package azofbench

import graft.format.AzofTable
import graft.sources.AzofWriter
import java.time.Instant
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.GreaterThan
import scala.collection.mutable

/** A workload: a lake it builds from its seed, and an endless, seeded
  * stream of ops against it. Two instances with one seed build
  * identical lakes and issue identical ops.
  */
abstract class Workload(val seed: Long, val spark: SparkSession, val lake: String) {
  protected val rng = new Rng(seed)
  protected val clock = new Clock(Shapes.T0)
  val model = new Model
  /** The table the workload's space and shape figures describe. */
  def table: String
  def build(): Unit
  /** Ops run untimed before the measured phase, to warm caches and the
    * JIT on every op type; `endWarmup` is called after them.
    */
  def warmupOps: Int
  def endWarmup(): Unit = ()
  def next(): Op
  /** Ops are measured in whole rounds: a run stops at a round boundary. */
  def roundEnd: Boolean = true
  /** Per-op latencies of lake-building writer calls during `build`. */
  val buildTimes = mutable.ArrayBuffer.empty[(String, Double)]

  protected def timedBuild[A](what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    buildTimes += what -> (System.nanoTime() - t0) / 1e6
    a
  }

  protected def create(t: String, schema: graft.format.TableSchema): Unit =
    AzofWriter.createTable(spark, lake, t, schema, Instant.ofEpochMilli(Shapes.T0))

  protected def at(ms: Long): Instant = Instant.ofEpochMilli(ms)

  /** Files per segment-tree level of the table's current snapshot. */
  def shape(): Map[String, Any] = {
    val snap = AzofTable(spark, lake, table).currentSnapshot
    val levels = mutable.TreeMap.empty[Int, Int]
    def walk(s: graft.format.Segment, depth: Int): Unit = {
      levels(depth) = levels.getOrElse(depth, 0) + s.file.size + s.delta.size
      s.segments.foreach(walk(_, depth + 1))
    }
    snap.segments.foreach(walk(_, 0))
    Map("table" -> table, "keys" -> model.keyCount, "rows" -> model.versions,
      "files" -> snap.allFiles.size,
      "files_per_level" -> levels.values.toSeq)
  }

  protected def groupBy(table: String, asOf: Option[Long]): String =
    s"SELECT g, count(*) AS n, sum(v) AS s FROM azof.$table" +
      asOf.fold("")(t => s" TIMESTAMP AS OF '${Shapes.iso(t)}'") + " GROUP BY g"

  protected def expectGroups(asOf: Option[Long]): () => Seq[String] =
    () => Norm.groupsOf(model.state(asOf).toSeq.groupBy(_.g))

}

object Workload {
  val names: Seq[String] = Seq("timetravel", "ingest")
  def apply(name: String, seed: Long, spark: SparkSession, lake: String): Workload =
    name match {
      case "timetravel" => new TimeTravel(seed, spark, lake)
      case "ingest" => new Ingest(seed, spark, lake)
    }
}

/** Read-only as-of analytics over a deep, delta-heavy tree shaped like
  * the paper's `financials`: two periods of 12 time-partitioned deltas
  * (the first holds every key's first version), each compacted, which
  * leaves closed child segments with their deltas and a compacted base;
  * then an open segment of 2 tombstone commits and 88 small deltas.
  *
  * Ops come in rounds of five: three `GROUP BY`s, two as of "now" (above
  * 64 pruned files) and one as of a historic instant (a closed segment,
  * at most 13 files), or the other way round in every other round; one
  * Current top-k; one value-predicate count as of the middle of the open
  * segment (47 to 61 files, the many-file end of the at-most-64 scan
  * shape). Every round has the same regimes, so runs compare.
  */
final class TimeTravel(seed: Long, spark: SparkSession, lake: String)
    extends Workload(seed, spark, lake) {
  val table = "fin"
  private val Keys = 5000
  private val Periods = 2
  private val PeriodRows = 4000
  private val PeriodFiles = 12
  private val Deletes = 2
  private val DeleteKeys = 50
  private val OpenRows = 4000
  private val OpenFiles = 88
  private var histLo, histHi, midLo, midHi, nowLo, nowHi = 0L
  private var round: IndexedSeq[String] = IndexedSeq.empty
  private var rounds = 0
  private val nowAt, histAt, countAt, countOver = new Spread(rng)

  private def batch(n: Int): Seq[Rec] =
    (0 until n).map(_ => rng.rec(Shapes.key(rng.int(Keys)), clock.next()))

  def build(): Unit = {
    create(table, Shapes.fact)
    for (p <- 1 to Periods) {
      // the first period carries every key's first version: the base
      val first = if (p > 1) Nil else (0 until Keys).map(i => rng.rec(Shapes.key(i), clock.next()))
      if (p == 1) histLo = clock.peek
      val rows = first ++ batch(PeriodRows)
      timedBuild("commit_partitioned")(AzofWriter.commitPartitioned(
        spark, lake, table, Frames.fact(spark, rows), PeriodFiles))
      model.addAll(rows)
      val c = clock.next()
      timedBuild("compact")(AzofWriter.compact(spark, lake, table, at(c)))
    }
    histHi = clock.peek
    for (_ <- 1 to Deletes) {
      val keys = rng.shuffle((0 until Keys).toIndexedSeq).take(DeleteKeys).map(Shapes.key)
      val t = clock.next()
      timedBuild("commit_delete")(AzofWriter.commitDelete(spark, lake, table, keys, at(t)))
      model.addAll(keys.map(k => Rec(k, t, "", 0, "", deleted = true)))
    }
    val rows = batch(OpenRows)
    timedBuild("commit_partitioned")(AzofWriter.commitPartitioned(
      spark, lake, table, Frames.fact(spark, rows), OpenFiles))
    model.addAll(rows)
    // with the base and both tombstones, as-ofs in [midLo, midHi] see
    // about 47 to 61 files, and as-ofs past nowLo more than 64
    midLo = rows(OpenRows / 2).t
    midHi = rows(OpenRows * 2 / 3).t
    nowLo = rows(OpenRows * 3 / 4).t
    nowHi = clock.peek
  }

  def warmupOps: Int = 5

  override def roundEnd: Boolean = round.isEmpty

  def next(): Op = {
    if (round.isEmpty) {
      val (now, hist) = if (rounds % 2 == 0) (2, 1) else (1, 2)
      rounds += 1
      round = rng.shuffle(IndexedSeq.fill(now)("groupby_now") ++
        IndexedSeq.fill(hist)("groupby_hist") ++ IndexedSeq("topk", "value_count"))
    }
    val sub = round.head
    round = round.tail
    sub match {
      case "groupby_now" | "groupby_hist" =>
        val t = if (sub == "groupby_now") nowAt.in(nowLo, nowHi + 1)
          else histAt.in(histLo, histHi + 1)
        Read("read", sub, ReadSpec(table, Some(t), Some(groupBy(table, Some(t))),
          projection = Some(Set("g", "v"))), expectGroups(Some(t)), Norm.groups)
      case "topk" =>
        val q = s"SELECT key, v FROM azof.$table ORDER BY v DESC, key LIMIT 10"
        Read("read", sub, ReadSpec(table, None, Some(q), projection = Some(Set("v"))),
          () => model.state(None).toSeq.sortBy(r => (-r.v, r.key)).take(10)
            .map(r => s"${r.key}|${r.v}"), Norm.ordered)
      case "value_count" =>
        val t = countAt.in(midLo, midHi + 1)
        val x = countOver.in(0, 1000000)
        val q = s"SELECT count(*) AS n FROM azof.$table TIMESTAMP AS OF " +
          s"'${Shapes.iso(t)}' WHERE v > $x"
        Read("read", sub, ReadSpec(table, Some(t), Some(q),
            valueFilters = Seq(GreaterThan("v", x)), projection = Some(Set("v"))),
          () => Seq(model.state(Some(t)).count(_.v > x).toString), Norm.count)
    }
  }
}

/** Writes with reads beside them on a table that grows during the run.
  * A round is ten commits in a fixed rotation — seven `commitDelta`
  * upserts of 2,000 rows, two SQL `MERGE INTO`s of 200 rows through the
  * catalog, one `commitDelete` of 100 keys — each followed by two
  * read-your-write as-of lookups of the newest key it wrote, one through
  * SQL and one through the DataFrame reader; then `REFRESH MATERIALIZED VIEW` of a
  * single-table and a star view, each view's rewrite-served `GROUP BY`,
  * and a `compact`. Keys are Zipf-drawn with recent keys hottest; a fifth
  * of upserted keys, and half of merged ones, are new.
  */
final class Ingest(seed: Long, spark: SparkSession, lake: String)
    extends Workload(seed, spark, lake) {
  val table = "facts"
  private val dims = "dims"
  private val BaseKeys = 20000
  private val DeltaRows = 2000
  private val MergeRows = 200
  private val DeleteKeys = 100
  private val Rotation = IndexedSeq("d", "d", "m", "d", "d", "x", "d", "d", "m", "d")
  /** Warm-up is one short round with each commit kind once. */
  private var rotation = IndexedSeq("d", "m", "x")
  private val recency = new Zipf(1 << 17, 0.9)
  private var keys = 0
  private var commits = 0
  private var tailAt = 0
  private var refreshedVersions = 0
  private val pending = mutable.Queue.empty[Op]

  def build(): Unit = {
    create(table, Shapes.fact)
    create(dims, Shapes.dim)
    val base = (0 until BaseKeys).map(i => rng.rec(Shapes.key(i), clock.next()))
    keys = BaseKeys
    timedBuild("commit_base")(AzofWriter.commitBase(spark, lake, table, Frames.fact(spark, base, 4)))
    model.addAll(base)
    timedBuild("commit_base")(AzofWriter.commitBase(spark, lake, dims, Frames.dims(spark, clock.next())))
    clock.advance(Shapes.DimKeys)
    timedBuild("mv_create")(spark.sql(s"CREATE MATERIALIZED VIEW mv_g AS ${groupBy(table, None)}").collect())
    timedBuild("mv_create")(spark.sql(s"CREATE MATERIALIZED VIEW mv_star AS $starQuery").collect())
    refreshedVersions = model.versions
  }

  private def starQuery: String =
    s"SELECT tier, count(*) AS n, sum(v) AS s FROM azof.$table f " +
      s"JOIN azof.$dims d ON f.d = d.key GROUP BY tier"

  def warmupOps: Int = 3 * rotation.size + 5

  override def endWarmup(): Unit = {
    rotation = Rotation
    commits = 0
    tailAt = 0
  }

  override def roundEnd: Boolean = pending.isEmpty && tailAt == commits

  /** A recently written key (rank 0 = the newest). */
  private def recentKey(): Int = {
    var k = -1
    while (k < 0) k = keys - 1 - recency.sample(rng)
    k
  }

  private def upserts(n: Int, newShare: Double): Seq[Rec] = {
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < n)
      seen += (if (rng.double() < newShare) { keys += 1; keys - 1 } else recentKey())
    seen.toSeq.map(i => rng.rec(Shapes.key(i), clock.next()))
  }

  def next(): Op = {
    if (pending.isEmpty) {
      if (commits % rotation.size == 0 && tailAt != commits) {
        tailAt = commits
        roundTail()
      } else commit()
    }
    pending.dequeue()
  }

  private def commit(): Unit = {
    val kind = rotation(commits % rotation.size)
    commits += 1
    kind match {
      case "d" =>
        val rows = upserts(DeltaRows, 0.2)
        pending += Write("commit", "commit_delta", table,
          () => AzofWriter.commitDelta(spark, lake, table, Frames.fact(spark, rows),
            at(rows.head.t), at(rows.last.t)),
          () => model.addAll(rows), rows.size)
        pending ++= ryw(rows.maxBy(_.key))
      case "m" =>
        val rows = upserts(MergeRows, 0.5)
        pending += Write("commit", "merge", table,
          () => {
            Frames.fact(spark, rows).createOrReplaceTempView("azb_src")
            spark.sql(
              s"""MERGE INTO azc.$table t USING azb_src s ON t.key = s.key
                 |WHEN MATCHED THEN UPDATE SET event_time = s.event_time,
                 |  g = s.g, v = s.v, d = s.d
                 |WHEN NOT MATCHED THEN INSERT (key, event_time, g, v, d)
                 |  VALUES (s.key, s.event_time, s.g, s.v, s.d)""".stripMargin)
            ()
          },
          () => model.addAll(rows), rows.size)
        pending ++= ryw(rows.maxBy(_.key))
      case "x" =>
        val ks = mutable.LinkedHashSet.empty[Int]
        while (ks.size < DeleteKeys) ks += recentKey()
        val t = clock.next()
        val dead = ks.toSeq.map(i => Rec(Shapes.key(i), t, "", 0, "", deleted = true))
        pending += Write("commit", "commit_delete", table,
          () => AzofWriter.commitDelete(spark, lake, table, dead.map(_.key), at(t)),
          () => model.addAll(dead), dead.size)
        pending ++= ryw(dead.maxBy(_.key))
    }
  }

  /** Refresh both views, read both through the rewrite, compact. */
  private def roundTail(): Unit = {
    val newRows = (model.versions - refreshedVersions).toLong
    refreshedVersions = model.versions
    for (v <- Seq("mv_g", "mv_star"))
      pending += Write("mv_refresh", "mv_refresh", v,
        () => { spark.sql(s"REFRESH MATERIALIZED VIEW $v").collect(); () }, rows = newRows)
    pending += Read("mv_read", "mv_read_single", ReadSpec(table, None,
        Some(groupBy(table, None)), projection = Some(Set("g", "v"))),
      expectGroups(None), Norm.groups)
    pending += Read("mv_read", "mv_read_star", ReadSpec(table, None, Some(starQuery),
        projection = Some(Set("d", "v"))),
      () => Norm.groupsOf(model.state(None).toSeq.groupBy(r =>
        Shapes.tier(r.d.stripPrefix("d").toInt))), Norm.groups)
    val c = clock.next()
    pending += Write("compact", "compact", table,
      () => AzofWriter.compact(spark, lake, table, at(c)))
  }

  /** Read-your-write: the newest key a commit wrote, as of the written
    * version, once through SQL and once through the DataFrame reader.
    * The newest key fixes which files its lookup reaches, so runs
    * compare.
    */
  private def ryw(r: Rec): Seq[Read] = Seq(true, false).map { viaSql =>
    val asOf = Some(r.t)
    val sql = if (!viaSql) None else Some(
      s"SELECT key, event_time, g, v, d FROM azof.$table " +
        s"TIMESTAMP AS OF '${Shapes.iso(r.t)}' WHERE key IN ('${r.key}')")
    Read("read", if (viaSql) "ryw_lookup_sql" else "ryw_lookup_reader",
      ReadSpec(table, asOf, sql, keys = Some(Seq(r.key))),
      () => Norm.recs(model.at(r.key, asOf).toSeq), Norm.rows)
  }
}
