package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Native SQL time travel through AzofExtensions against the reference's
  * fixture tables ([[graft.ReferenceData]]: its own test-data where a
  * checkout is present, else the in-repo reference-format fixtures) —
  * parity with the flagship DataFusion example
  * (reference: crates/azof-datafusion/examples/query_example.rs:19-30)
  * and the AT-rewrite tests (crates/azof-datafusion/src/parse.rs:170-285),
  * expressed in Spark's own TIMESTAMP AS OF / VERSION AS OF grammar.
  */
class AzofExtensionsSpec extends AnyFunSuite {

  // Extensions bind at session build time, so the shared TestSpark
  // session carries AzofExtensions; this suite just points it at the
  // reference lakehouse.
  private lazy val spark: SparkSession = {
    val s = graft.TestSpark.spark
    s.conf.set("spark.azof.path", graft.ReferenceData.lake)
    s
  }

  test("TIMESTAMP AS OF resolves the as-of scan") {
    val got = spark.sql(
      """SELECT key, value FROM azof.table0
         TIMESTAMP AS OF '2024-02-17T00:00:00Z' ORDER BY key""")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq("1" -> "abc2", "2" -> "xyz"))
  }

  test("bare table name resolves Current") {
    val got = spark.sql("SELECT key, value FROM azof.table0 ORDER BY key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
  }

  test("VERSION AS OF resolves an explicit snapshot id") {
    val got = spark.sql("SELECT key, value FROM azof.table0 VERSION AS OF 1 ORDER BY key")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
  }

  test("flagship query: full SQL composes over the time-travel scan") {
    val top = spark.sql(
      """SELECT key AS symbol, revenue, net_income
         FROM azof.financials TIMESTAMP AS OF '2019-01-17T00:00:00.000Z'
         WHERE industry IN ('Software')
         ORDER BY revenue DESC, symbol LIMIT 5""").collect()
    assert(top.length == 5)
    val revs = top.map(_.getLong(1)).toSeq
    assert(revs == revs.sorted.reverse)
  }

  test("joining two as-of views of the same table") {
    val diff = spark.sql(
      """SELECT cur.key, past.value AS old_value, cur.value AS new_value
         FROM azof.table1 cur
         JOIN (SELECT * FROM azof.table1 TIMESTAMP AS OF '2024-06-01T00:00:00Z') past
           ON cur.key = past.key
         ORDER BY cur.key""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(diff == Seq(("1", "abc3", "abc4"), ("2", "xyz2", "xyz3")))
  }

  test("mixed as-of self-composition: same table at two explicit timestamps") {
    // The reference registers one provider per (table, asOf) exactly so
    // `t AT('ts1') JOIN t AT('ts2')` works (reference:
    // crates/azof-datafusion/src/context.rs:30-43); here each
    // RelationTimeTravel resolves independently, no subquery wrapping.
    // table1 at 2024-02-01: {1->abc2}; at 2024-06-01: {1->abc3, 2->xyz2}.
    val got = spark.sql(
      """SELECT a.key, a.value AS v_feb, b.value AS v_jun
         FROM azof.table1 TIMESTAMP AS OF '2024-02-01T00:00:00Z' a
         JOIN azof.table1 TIMESTAMP AS OF '2024-06-01T00:00:00Z' b
           ON a.key = b.key
         ORDER BY a.key""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(("1", "abc2", "abc3")))
    // and both snapshots' values survive in a full outer composition
    val full = spark.sql(
      """SELECT coalesce(a.key, b.key) AS key, a.value AS v_feb, b.value AS v_jun
         FROM azof.table1 TIMESTAMP AS OF '2024-02-01T00:00:00Z' a
         FULL OUTER JOIN azof.table1 TIMESTAMP AS OF '2024-06-01T00:00:00Z' b
           ON a.key = b.key
         ORDER BY key""")
      .collect().map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getString(2)))).toSeq
    assert(full == Seq(
      ("1", Some("abc2"), Some("abc3")),
      ("2", None, Some("xyz2"))))
  }

  test("non-azof identifiers are left alone") {
    // A nonexistent azof.<t> is NOT rewritten (no version.txt) and falls
    // through to standard analysis, which fails: either as an unknown
    // table, or — because "azof" is also the registered DataFrameReader
    // short name — as Spark's own direct-query-on-files rejection.
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM azof.no_such_table").collect()
    }
    assert(err.getMessage.toLowerCase.contains("table or view not found") ||
      err.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      err.getMessage.contains("UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY"))
  }
}
