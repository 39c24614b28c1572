package graft.operators

import graft.TestSpark
import graft.format.{AsOf, TableSchema}
import java.time.Instant
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** As-of merge-dedup scan parity against the reference's fixture tables
  * ([[graft.ReferenceData]]: its own test-data where a checkout is
  * present, else the in-repo reference-format fixtures), porting the
  * expectations of the reference scan tests
  * (reference: crates/azof/src/lakehouse.rs:136-369).
  */
class AzofScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val lake = graft.ReferenceData.lake

  private def at(s: String): AsOf = AsOf.EventTime(Instant.parse(s))

  private def keyValues(asOf: AsOf, table: String): Seq[(String, String)] =
    AzofScan.scan(spark, lake, table, asOf)
      .select("key", if (table == "table2") "value1" else "value")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq

  test("table0: one segment and delta — current vs past") {
    assert(keyValues(AsOf.Current, "table0") ==
      Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
    assert(keyValues(at("2024-02-17T00:00:00Z"), "table0") ==
      Seq("1" -> "abc2", "2" -> "xyz"))
  }

  test("table1: delta-only, multiple updates across two delta windows") {
    assert(keyValues(AsOf.Current, "table1") == Seq("1" -> "abc4", "2" -> "xyz3"))
    assert(keyValues(at("2024-06-01T00:00:00Z"), "table1") ==
      Seq("1" -> "abc3", "2" -> "xyz2"))
    assert(keyValues(at("2024-02-01T00:00:00Z"), "table1") == Seq("1" -> "abc2"))
  }

  test("table2: all four column types") {
    val cur = AzofScan.scan(spark, lake, "table2", AsOf.Current)
      .select("key", "value1", "value2", "is_active", "created")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getTimestamp(4).getTime)).sortBy(_._1).toSeq
    assert(cur == Seq(
      ("1", "abc2", 100L, true, 1704067200000L),
      ("2", "xyz2", 222L, false, 1704067200000L),
      ("3", "www2", 300L, false, 1709251200000L)))

    val past = AzofScan.scan(spark, lake, "table2", at("2024-02-17T00:00:00Z"))
      .select("key", "value1", "value2", "is_active", "created")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getTimestamp(4).getTime)).sortBy(_._1).toSeq
    assert(past == Seq(
      ("1", "abc2", 100L, true, 1704067200000L),
      ("2", "xyz", 200L, false, 1704067200000L)))
  }

  test("projection: value column + system columns") {
    val df = AzofScan.scan(spark, lake, "table2", AsOf.Current,
      Some(Set("key", "event_time", "value1")))
    assert(df.columns.toSeq == Seq("key", "event_time", "value1"))
    val got = df.select("key", "value1").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
  }

  test("projection: key only / event_time only") {
    val keys = AzofScan.scan(spark, lake, "table2", AsOf.Current, Some(Set("key")))
    assert(keys.columns.toSeq == Seq("key"))
    assert(keys.collect().map(_.getString(0)).sorted.toSeq == Seq("1", "2", "3"))

    val times = AzofScan.scan(spark, lake, "table2", AsOf.Current,
      Some(Set("event_time")))
    assert(times.columns.toSeq == Seq("event_time"))
    assert(times.count() == 3)
  }

  test("as-of before all segments: empty result with full schema") {
    val df = AzofScan.scan(spark, lake, "table0", at("2023-06-01T00:00:00Z"))
    assert(df.count() == 0)
    assert(df.columns.toSeq == Seq("key", "event_time", "value"))
  }

  test("a row newer than asOf does not claim its key (older version survives)") {
    // table0 delta has key 2 updated at 2024-02-20 (to xyz2); as of
    // 2024-02-17 the base's older xyz must survive even though the delta
    // file takes precedence — mirrors lakehouse.rs:64-68 `continue`.
    assert(keyValues(at("2024-02-17T00:00:00Z"), "table0").contains("2" -> "xyz"))
  }

  test("financials flagship: AT 2019-01-17, Software by revenue desc limit 5") {
    val asOf = at("2019-01-17T00:00:00Z")
    AzofScan.registerView(spark, lake, "financials", "financials_v", asOf)
    val top = spark.sql(
      """SELECT key AS symbol, revenue, net_income FROM financials_v
         WHERE industry IN ('Software') ORDER BY revenue DESC, symbol LIMIT 5""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    // Independent oracle: same pruned file set, latest-row-per-key via a
    // groupBy max-struct aggregate instead of the window dedup.
    val full = AzofScan.scan(spark, lake, "financials", asOf)
    val brute = full
      .groupBy("key").agg(max(struct(col("event_time"), col("revenue"),
        col("industry"), col("net_income"))).as("s"))
      .select(col("key"), col("s.revenue"), col("s.industry"))
      .where(col("industry") === "Software")
      .orderBy(col("revenue").desc, col("key"))
      .limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == brute)
    assert(top.length == 5)
    assert(top.map(_._2) == top.map(_._2).sorted.reverse)
  }

  test("duplicate (key, event_time) within one file resolves deterministically") {
    // Two rows for the same key at the same instant in the SAME file tie
    // on (event_time, precedence); the content-hash tiebreak must pick
    // the same winner on every run and under any partitioning — without
    // it, row_number crowns whichever row the shuffle delivers first.
    val lake2 = java.nio.file.Files.createTempDirectory("azof-dup").toString
    val schema = TableSchema(Seq(
      graft.format.ColumnDef("value", graft.format.ColumnType.AzString,
        nullable = false)))
    graft.sources.AzofWriter.createTable(spark, lake2, "t", schema,
      Instant.parse("2024-01-01T00:00:00Z"))
    val t0 = java.sql.Timestamp.from(Instant.parse("2024-01-02T00:00:00Z"))
    val dup = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("1", t0, "left"), Row("1", t0, "right"),
        Row("2", t0, "only"))),
      schema.toStruct)
    graft.sources.AzofWriter.commitBase(spark, lake2, "t", dup)
    val picks = (1 to 3).map { i =>
      spark.conf.set("spark.sql.shuffle.partitions", (i * 3).toString)
      try AzofScan.scan(spark, lake2, "t", AsOf.Current)
        .select("key", "value").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(picks.distinct.size == 1, s"non-deterministic picks: $picks")
    assert(picks.head.map(_._1) == Seq("1", "2"))
  }

  test("scan output drops helper columns and keeps physical order") {
    val df = AzofScan.scan(spark, lake, "table0", AsOf.Current)
    assert(df.columns.toSeq == Seq("key", "event_time", "value"))
    assert(df.schema(TableSchema.KeyName).dataType.typeName == "string")
  }

  test("strictPrecedence mode reproduces reference first-seen-wins on overlapping windows") {
    // The ONE layout where the engines diverge: delta windows OVERLAP
    // and the higher-precedence file (newest window start) carries an
    // OLDER in-window row for a key the other file updates. Default
    // mode keeps the globally newest event_time; strict mode resolves
    // by file precedence first — the reference's row loop
    // (lakehouse.rs:57-79) on its event-time-descending file convention.
    val lake2 = java.nio.file.Files.createTempDirectory("azof-strict").toString
    val schema = TableSchema(Seq(
      graft.format.ColumnDef("value", graft.format.ColumnType.AzString,
        nullable = false)))
    graft.sources.AzofWriter.createTable(spark, lake2, "t", schema,
      Instant.parse("2024-01-01T00:00:00Z"))
    def row(k: String, t: String, v: String) =
      Row(k, java.sql.Timestamp.from(Instant.parse(t)), v)
    def commit(rows: Seq[Row], start: String, end: String): Unit =
      graft.sources.AzofWriter.commitDelta(spark, lake2, "t",
        spark.createDataFrame(spark.sparkContext.parallelize(rows),
          schema.toStruct),
        Instant.parse(start), Instant.parse(end))
    // lower precedence (older window start): key 1's NEWER row
    commit(Seq(row("1", "2024-01-20T00:00:00Z", "newer-low-prec"),
      row("2", "2024-01-05T00:00:00Z", "b1")),
      "2024-01-01T00:00:00Z", "2024-02-01T00:00:00Z")
    // higher precedence (newest window start), overlapping window:
    // key 1's OLDER row
    commit(Seq(row("1", "2024-01-15T00:00:00Z", "older-high-prec")),
      "2024-01-10T00:00:00Z", "2024-02-01T00:00:00Z")

    def kv(): Seq[(String, String)] =
      AzofScan.scan(spark, lake2, "t", AsOf.Current)
        .select("key", "value").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq

    // default: event-time-consistent — globally newest row wins
    assert(kv() == Seq("1" -> "newer-low-prec", "2" -> "b1"))
    // strict: reference parity — precedence wins outright
    spark.conf.set("spark.azof.strictPrecedence", "true")
    try assert(kv() == Seq("1" -> "older-high-prec", "2" -> "b1"))
    finally spark.conf.unset("spark.azof.strictPrecedence")
    // and the modes AGREE on every reference fixture (windows there
    // partition time): strict mode changes nothing on table0/1/2
    spark.conf.set("spark.azof.strictPrecedence", "true")
    try {
      assert(keyValues(AsOf.Current, "table0") ==
        Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
      assert(keyValues(at("2024-02-17T00:00:00Z"), "table0") ==
        Seq("1" -> "abc2", "2" -> "xyz"))
      assert(keyValues(AsOf.Current, "table1") ==
        Seq("1" -> "abc4", "2" -> "xyz3"))
    } finally spark.conf.unset("spark.azof.strictPrecedence")
  }
}
