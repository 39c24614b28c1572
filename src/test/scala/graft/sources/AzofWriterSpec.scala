package graft.sources

import graft.TestSpark
import graft.format._
import graft.operators.AzofScan
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class AzofWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = TableSchema(Seq(
    ColumnDef("value", ColumnType.AzString, nullable = false)))

  private def df(rows: (String, String, String)*) = {
    val data = rows.map { case (k, t, v) =>
      Row(k, Timestamp.from(Instant.parse(t)), v)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq), schema.toStruct)
  }

  private def ts(s: String) = Instant.parse(s)

  test("create → commitBase → commitDelta round-trip, version bumps") {
    val lake = Files.createTempDirectory("azof-writer").toString
    AzofWriter.createTable(spark, lake, "t", schema, ts("2024-01-01T00:00:00Z"))
    assert(AzofTable(spark, lake, "t").currentVersion == "1")

    AzofWriter.commitBase(spark, lake, "t", df(
      ("1", "2024-01-01T00:00:00Z", "a1"),
      ("2", "2024-01-01T00:00:00Z", "b1")))
    assert(AzofTable(spark, lake, "t").currentVersion == "2")

    AzofWriter.commitDelta(spark, lake, "t", df(
      ("1", "2024-02-10T00:00:00Z", "a2"),
      ("3", "2024-02-15T00:00:00Z", "c1")),
      ts("2024-02-01T00:00:00Z"), ts("2024-03-01T00:00:00Z"))
    assert(AzofTable(spark, lake, "t").currentVersion == "3")

    def vals(asOf: AsOf) =
      AzofScan.scan(spark, lake, "t", asOf).select("key", "value")
        .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq

    assert(vals(AsOf.Current) == Seq("1" -> "a2", "2" -> "b1", "3" -> "c1"))
    assert(vals(AsOf.EventTime(ts("2024-02-12T00:00:00Z"))) ==
      Seq("1" -> "a2", "2" -> "b1"))
    assert(vals(AsOf.EventTime(ts("2024-01-15T00:00:00Z"))) ==
      Seq("1" -> "a1", "2" -> "b1"))
    assert(vals(AsOf.EventTime(ts("2023-12-15T00:00:00Z"))).isEmpty)
  }

  test("written snapshot JSON round-trips through the codec") {
    val lake = Files.createTempDirectory("azof-writer2").toString
    AzofWriter.createTable(spark, lake, "t2", schema, ts("2024-01-01T00:00:00Z"))
    AzofWriter.commitDelta(spark, lake, "t2",
      df(("9", "2024-01-05T00:00:00Z", "z")),
      ts("2024-01-01T00:00:00Z"), ts("2024-02-01T00:00:00Z"))
    val snap = AzofTable(spark, lake, "t2").currentSnapshot
    val deltaFiles = snap.segments.head.delta.map(_.file)
    assert(deltaFiles.size == 1 && deltaFiles.head.startsWith("delta_s2_")
      && deltaFiles.head.endsWith(".parquet"))
    assert(SnapshotCodec.parse(SnapshotCodec.render(snap)) == snap)
  }

  test("data file is a single ts-desc-sorted parquet object (gen parity)") {
    val lake = Files.createTempDirectory("azof-writer3").toString
    val dir = s"$lake/t3"
    AzofWriter.writeDataFile(spark, df(
      ("1", "2024-01-01T00:00:00Z", "old"),
      ("2", "2024-03-01T00:00:00Z", "new"),
      ("3", "2024-02-01T00:00:00Z", "mid")), dir, "base.parquet")
    assert(new java.io.File(s"$dir/base.parquet").isFile)
    val times = spark.read.parquet(s"$dir/base.parquet")
      .collect().map(_.getTimestamp(1).getTime).toSeq
    assert(times == times.sorted.reverse)
  }

  test("CsvGen reads the reference's headerless CSV contract") {
    val snap = SnapshotCodec.parse(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"${graft.ReferenceData.lake}/table2/s1.json"))))
    val got = CsvGen.readCsv(spark, snap.schema,
      s"${graft.ReferenceData.lake}/table2/base.csv")
    assert(got.columns.toSeq ==
      Seq("key", "event_time", "value1", "value2", "is_active", "created"))
    val ref = spark.read.parquet(s"${graft.ReferenceData.lake}/table2/base.parquet")
    assert(got.collect().map(_.toSeq).toSet == ref.collect().map(_.toSeq).toSet)
  }
}
