package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 catalog must serve azof tables through Spark's OWN catalog
  * and time-travel resolution — no parser extension, no session rule:
  * `lakecat.<t> [TIMESTAMP AS OF ts | VERSION AS OF n]` and
  * `spark.table` all route through `AzofCatalog.loadTable`.
  */
class AzofCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.lakecat",
      classOf[AzofCatalog].getName)
    s.conf.set("spark.sql.catalog.lakecat.path", graft.ReferenceData.lake)
    s
  }

  private def kv(sql: String): Seq[(String, String)] =
    spark.sql(sql).collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq

  test("catalog-resolved Current scan") {
    assert(kv("SELECT key, value FROM lakecat.table0") ==
      Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
  }

  test("native TIMESTAMP AS OF routes through loadTable(ident, micros)") {
    assert(kv("""SELECT key, value FROM lakecat.table0
                 TIMESTAMP AS OF '2024-02-17T00:00:00Z'""") ==
      Seq("1" -> "abc2", "2" -> "xyz"))
  }

  test("native VERSION AS OF routes through loadTable(ident, version)") {
    assert(kv("SELECT key, value FROM lakecat.table0 VERSION AS OF 1") ==
      Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
  }

  test("spark.table and DataFrame ops compose over the catalog") {
    val n = spark.table("lakecat.financials")
      .where("industry = 'Software'").count()
    assert(n > 0)
  }

  test("pruning/filter pushdown still yields correct results") {
    val rows = spark.sql(
      """SELECT value FROM lakecat.table0 WHERE key <> '2' ORDER BY value""")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("abc2", "www2"))
  }

  test("SHOW TABLES lists azof tables; unknown table errors cleanly") {
    val tables = spark.sql("SHOW TABLES IN lakecat").collect()
      .map(_.getString(1)).toSet
    assert(Set("table0", "table1", "table2", "financials").subsetOf(tables))
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM lakecat.nope").collect()
    }
    assert(err.getMessage.contains("nope"))
  }

  test("destructive DDL is rejected: azof tables are append-only") {
    intercept[UnsupportedOperationException] {
      spark.sql("DROP TABLE lakecat.table0")
    }
  }

  /** r17 regression (broke q33/q40/q46/q47 on the driver): the V1Scan
    * bridge's anonymous relation must FORWARD the delegate's
    * needConversion — with the internal-row handoff on (the default)
    * and the bridge left at needConversion=true, Spark wraps the scan
    * in a Row→InternalRow encoder that ClassCastExceptions on
    * UnsafeRow. Both kill-switch arms must collect through catalog SQL.
    */
  test("internal-row handoff reaches catalog SQL in both kill-switch arms") {
    Seq("true", "false").foreach { v =>
      spark.conf.set("spark.azof.scan.internalRows", v)
      try assert(kv("SELECT key, value FROM lakecat.table0").size == 3)
      finally spark.conf.unset("spark.azof.scan.internalRows")
    }
  }
}
