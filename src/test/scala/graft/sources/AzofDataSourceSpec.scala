package graft.sources

import graft.TestSpark
import graft.format._
import graft.operators.AzofScan
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `spark.read.format("azof")` must resolve via the service registry and
  * return exactly what the library scan returns — current, event-time
  * as-of, and version as-of — with no dependence on AzofExtensions or
  * any session config.
  */
class AzofDataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val lake = graft.ReferenceData.lake

  private def kv(rows: Array[Row]): Seq[(String, String)] =
    rows.map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq

  test("format(\"azof\") resolves by short name and reads Current") {
    val got = spark.read.format("azof").load(s"$lake/table0")
      .select("key", "value").collect()
    assert(kv(got) == Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
  }

  test("explicit table option against the lakehouse root") {
    val got = spark.read.format("azof").option("table", "table0").load(lake)
      .select("key", "value").collect()
    assert(kv(got) == Seq("1" -> "abc2", "2" -> "xyz2", "3" -> "www2"))
  }

  test("asOf option: event-time travel equals the library scan") {
    val ts = "2024-02-17T00:00:00Z"
    val viaReader = spark.read.format("azof").option("asOf", ts)
      .load(s"$lake/table0").select("key", "value").collect()
    val viaScan = AzofScan.scan(spark, lake, "table0",
        AsOf.EventTime(Instant.parse(ts)))
      .select("key", "value").collect()
    assert(kv(viaReader) == kv(viaScan))
    assert(kv(viaReader) == Seq("1" -> "abc2", "2" -> "xyz"))
    // space-separated and date-only spellings parse too
    val spaced = spark.read.format("azof").option("asOf", "2024-02-17 00:00:00")
      .load(s"$lake/table0").select("key", "value").collect()
    assert(kv(spaced) == kv(viaReader))
  }

  test("versionAsOf reads a historical snapshot") {
    val tmp = Files.createTempDirectory("azof-dsv").toString
    val schema = TableSchema(Seq(
      ColumnDef("value", ColumnType.AzString, nullable = false)))
    AzofWriter.createTable(spark, tmp, "t", schema,
      Instant.parse("2024-01-01T00:00:00Z"))
    def df(rows: (String, String, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (k, t, v) =>
          Row(k, Timestamp.from(Instant.parse(t)), v) }),
        schema.toStruct)
    AzofWriter.commitBase(spark, tmp, "t", df(
      ("1", "2024-01-02T00:00:00Z", "v1")))
    AzofWriter.commitDelta(spark, tmp, "t", df(
      ("1", "2024-02-02T00:00:00Z", "v2")),
      Instant.parse("2024-02-01T00:00:00Z"), Instant.parse("2024-03-01T00:00:00Z"))

    val cur = spark.read.format("azof").load(s"$tmp/t")
      .select("key", "value").collect()
    assert(kv(cur) == Seq("1" -> "v2"))
    val v2 = spark.read.format("azof").option("versionAsOf", "2")
      .load(s"$tmp/t").select("key", "value").collect()
    assert(kv(v2) == Seq("1" -> "v1"))
  }

  test("schema evolution through the reader: old version, old schema") {
    val tmp = Files.createTempDirectory("azof-dsevo").toString
    val schema = TableSchema(Seq(
      ColumnDef("value", ColumnType.AzString, nullable = false)))
    AzofWriter.createTable(spark, tmp, "t", schema,
      Instant.parse("2024-01-01T00:00:00Z"))
    AzofWriter.commitBase(spark, tmp, "t", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("1",
        Timestamp.from(Instant.parse("2024-01-02T00:00:00Z")), "v1"))),
      schema.toStruct))
    AzofWriter.addColumn(spark, tmp, "t",
      ColumnDef("note", ColumnType.AzString, nullable = true))

    val cur = spark.read.format("azof").load(s"$tmp/t")
    assert(cur.columns.toSeq == Seq("key", "event_time", "value", "note"))
    assert(cur.select("note").collect().head.isNullAt(0)) // pre-evolution file
    val old = spark.read.format("azof").option("versionAsOf", "2").load(s"$tmp/t")
    assert(old.columns.toSeq == Seq("key", "event_time", "value"))
  }

  test("column pruning and filters compose (and filters stay correct)") {
    val df = spark.read.format("azof").load(s"$lake/table0")
      .where(col("key") =!= "2").select("value")
    assert(df.columns.toSeq == Seq("value"))
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("abc2", "www2"))
    // count(*) pushes an empty projection through buildScan
    assert(spark.read.format("azof").load(s"$lake/table0").count() == 3)
  }

  /** ADVICE r17 (medium): the handoff flag must be snapshotted ONCE at
    * relation construction — a conf flip between the planner's
    * needConversion check and buildScan would otherwise hand rows over
    * in the wrong format and crash mid-query.
    */
  test("internalRows flag is pinned at relation construction, conf flips later are inert") {
    spark.conf.set("spark.azof.scan.internalRows", "true")
    val df = spark.read.format("azof").load(s"$lake/table0")
    // flip BEFORE the action: the relation keeps its construction-time
    // decision, so the action must still collect correctly
    spark.conf.set("spark.azof.scan.internalRows", "false")
    try assert(df.select("key").count() == 3)
    finally spark.conf.unset("spark.azof.scan.internalRows")
  }

  test("reader joins two as-of views of the same table") {
    val a = spark.read.format("azof").load(s"$lake/table0")
      .select(col("key"), col("value").as("v_now"))
    val b = spark.read.format("azof").option("asOf", "2024-02-17T00:00:00Z")
      .load(s"$lake/table0")
      .select(col("key"), col("value").as("v_then"))
    val got = a.join(b, "key").orderBy("key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(("1", "abc2", "abc2"), ("2", "xyz2", "xyz")))
  }
}
