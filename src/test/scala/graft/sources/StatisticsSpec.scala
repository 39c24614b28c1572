package graft.sources

import graft.TestSpark
import graft.format._
import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot-derived statistics: azof scans report a real `sizeInBytes`
  * (sum of the view's pruned data files) instead of `BaseRelation`'s
  * "effectively infinite" default — so Spark's optimizer auto-broadcasts
  * small azof tables in joins on BOTH read surfaces (DataFrame reader
  * and DSv2 catalog SQL) without explicit `broadcast()` hints.
  */
class StatisticsSpec extends AnyFunSuite {
  private lazy val lake = Files.createTempDirectory("azof-stats").toString
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.stats", classOf[AzofCatalog].getName)
    s.conf.set("spark.sql.catalog.stats.path", lake)
    s
  }

  private def ts(s: String) = Instant.parse(s)
  private val schema = TableSchema(Seq(
    ColumnDef("value", ColumnType.AzString, nullable = false)))

  private def df(rows: (String, String, String)*) = {
    val data = rows.map { case (k, t, v) =>
      Row(k, Timestamp.from(ts(t)), v)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq), schema.toStruct)
  }

  private lazy val built: Unit = {
    AzofWriter.createTable(spark, lake, "dim", schema,
      ts("2024-01-01T00:00:00Z"))
    AzofWriter.commitDelta(spark, lake, "dim",
      df(("1", "2024-01-05T00:00:00Z", "a"),
        ("2", "2024-01-06T00:00:00Z", "b")),
      ts("2024-01-05T00:00:00Z"), ts("2024-01-06T00:00:00Z"))
    // a second delta strictly later: an as-of BEFORE it must prune it
    // out of the size estimate too
    AzofWriter.commitDelta(spark, lake, "dim",
      df(("3", "2024-02-05T00:00:00Z", "c")),
      ts("2024-02-05T00:00:00Z"), ts("2024-02-05T00:00:00Z"))
  }

  test("sizeInBytes ≈ the view's pruned file bytes, never the default") {
    built
    val fileBytes = new java.io.File(lake, "dim").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.length()).toMap
    assert(fileBytes.size == 2)

    val cur = new AzofRelation(spark.sqlContext, lake, "dim",
      AsOf.Current, None)
    assert(cur.sizeInBytes == fileBytes.values.sum)

    // time travel before the second delta: its bytes leave the estimate
    val early = new AzofRelation(spark.sqlContext, lake, "dim",
      AsOf.EventTime(ts("2024-01-20T00:00:00Z")), None)
    assert(early.sizeInBytes < cur.sizeInBytes)
    assert(early.sizeInBytes ==
      fileBytes.collect { case (n, len) if n.contains("_s2") => len }.sum)
  }

  test("estimatedRows = sum of the view's per-file row counts; time pruning applies") {
    built
    val cur = new AzofRelation(spark.sqlContext, lake, "dim",
      AsOf.Current, None)
    assert(cur.estimatedRows.contains(3L))
    val early = new AzofRelation(spark.sqlContext, lake, "dim",
      AsOf.EventTime(ts("2024-01-20T00:00:00Z")), None)
    assert(early.estimatedRows.contains(2L))
    // a table whose files predate the stats generations (the
    // reference's own test-data) reports None — a partial/absent sum
    // would UNDER-bound, the dangerous direction for a planner
    val foreign = new AzofRelation(spark.sqlContext,
      graft.ReferenceData.lake, "table0", AsOf.Current, None)
    assert(foreign.estimatedRows.isEmpty)
  }

  test("small azof tables auto-broadcast in joins, no hint needed") {
    built
    import spark.implicits._
    val big = spark.range(0, 10000)
      .select(($"id" % 3 + 1).cast("string").as("key"), $"id")

    // DataFrame reader surface
    val dimV1 = spark.read.format("azof")
      .option("table", "dim").load(lake)
    val j1 = big.join(dimV1, "key")
    assert(j1.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      s"v1 surface did not broadcast:\n${j1.queryExecution.executedPlan}")
    assert(j1.count() > 0)

    // DSv2 catalog surface
    val j2 = big.join(spark.table("stats.dim"), "key")
    assert(j2.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      s"catalog surface did not broadcast:\n${j2.queryExecution.executedPlan}")
    assert(j2.count() > 0)
  }
}
