package azofbench

import graft.format.{AsOf, AzofTable, KeyFilter}
import graft.operators.AzofScan
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.Filter

/** Everything a read op passes to the engine: the as-of, the key set
  * and value predicates the scan is handed, and either SQL text or the
  * `spark.read.format("azof")` surface. A traced run calls the format
  * and operator layers directly with these same arguments.
  */
final case class ReadSpec(
    table: String,
    asOf: Option[Long],
    sql: Option[String],
    keys: Option[Seq[String]] = None,
    valueFilters: Seq[Filter] = Nil,
    projection: Option[Set[String]] = None) {
  def engineAsOf: AsOf = asOf.fold[AsOf](AsOf.Current)(t =>
    AsOf.EventTime(java.time.Instant.ofEpochMilli(t)))
  def keyFilter: Option[KeyFilter] = keys.map(ks => KeyFilter.Keys(ks.toSet))

  def frame(spark: SparkSession, lake: String): DataFrame = sql match {
    case Some(q) => spark.sql(q)
    case None =>
      val r = spark.read.format("azof").option("table", table)
      val df = asOf.fold(r)(t => r.option("asOf", Shapes.iso(t))).load(lake)
      keys.fold(df)(ks => df.where(col("key").isin(ks: _*)))
  }
}

sealed trait Op {
  /** read | mv_read | commit | compact | mv_refresh */
  def kind: String
  /** The op's variant, e.g. groupby_now or commit_delete. */
  def sub: String
}

/** A read whose answer is checked against the brute-force model. */
final case class Read(kind: String, sub: String, spec: ReadSpec,
    expected: () => Seq[String], norm: Array[Row] => Seq[String]) extends Op

/** A write. `apply` records its effect in the model once it succeeded;
  * `rows` is the number of rows it commits (0 for rewrites).
  */
final case class Write(kind: String, sub: String, table: String,
    run: () => Unit, apply: () => Unit = () => (), rows: Long = 0) extends Op

object Norm {
  private def ts(r: Row, i: Int): Long = r.getTimestamp(i).getTime
  /** Full rows `key, event_time, g, v, d`, order-free. */
  def rows(rs: Array[Row]): Seq[String] =
    rs.map(r => s"${r.getString(0)}|${ts(r, 1)}|${r.getString(2)}|${r.getLong(3)}|${r.getString(4)}")
      .toSeq.sorted
  def recs(rs: Iterable[Rec]): Seq[String] =
    rs.map(r => s"${r.key}|${r.t}|${r.g}|${r.v}|${r.d}").toSeq.sorted
  /** `group, count, sum` rows, order-free. */
  def groups(rs: Array[Row]): Seq[String] =
    rs.map(r => s"${r.get(0)}|${r.getLong(1)}|${r.getLong(2)}").toSeq.sorted
  def groupsOf(m: Iterable[(String, Iterable[Rec])]): Seq[String] =
    m.map { case (g, rs) => s"$g|${rs.size}|${rs.iterator.map(_.v).sum}" }.toSeq.sorted
  /** Ordered rows, as the query returned them. */
  def ordered(rs: Array[Row]): Seq[String] = rs.map(_.mkString("|")).toSeq
  def count(rs: Array[Row]): Seq[String] = rs.map(_.getLong(0).toString).toSeq
}

/** Runs ops; in a traced run also records spans around each layer call
  * and the per-layer counts.
  */
final class Runner(spark: SparkSession, lake: String, tracer: Tracer,
    listener: Option[ExecListener], acc: Acc) {
  private val fs = new Path(lake).getFileSystem(spark.sessionState.newHadoopConf())

  /** Runs one op; returns its answer (reads) and wall time in ms. */
  def run(op: Op, id: Int): (Option[Seq[String]], Double) = {
    val t0 = System.nanoTime()
    val out =
      if (!tracer.on) op match {
        case r: Read => Some(r.norm(r.spec.frame(spark, lake).collect()))
        case w: Write => w.run(); None
      }
      else tracer.forOp(id, s"op.${op.kind}") {
        op match {
          case r: Read => Some(tracedRead(r))
          case w: Write => tracedWrite(w); None
        }
      }
    (out, (System.nanoTime() - t0) / 1e6)
  }

  /** Spark's work since the last call; ops never overlap. */
  def execSinceLast(): OpExec = {
    org.apache.spark.AzofBenchBus.drain(spark.sparkContext)
    listener.map(_.take()).getOrElse(new OpExec)
  }

  private def tracedRead(r: Read): Seq[String] = {
    val s = r.spec
    val table = AzofTable(spark, lake, s.table)
    val (snap, snapMs) = tracer.timed("format.snapshot_read")(table.currentSnapshot)
    acc.add("format.snapshot_read_ms", snapMs)
    acc.add("format.snapshot_bytes", fs.getFileStatus(
      new Path(table.tableDir, s"s${table.currentVersion}.json")).getLen.toDouble)
    val asOf = s.engineAsOf
    val ((afterTime, afterKeys, afterValues), pruneMs) = tracer.timed("format.prune") {
      val t = snap.dataFilesWithStats(asOf)
      val k = AzofScan.prunedEntries(snap, asOf, s.keyFilter)
      (t, k, graft.format.ValueStats.prune(snap.schema, k, s.valueFilters))
    }
    val inTree = snap.allFiles.size
    acc.add("format.prune_ms", pruneMs)
    acc.add("format.files_in_tree", inTree)
    acc.add("format.files_after_time", afterTime.size)
    acc.add("format.files_after_keys", afterKeys.size)
    acc.add("format.files_after_values", afterValues.size)
    acc.add("format.files_read_ratio", afterValues.size.toDouble / math.max(1, inTree))

    val (scanDf, buildMs) = tracer.timed("operators.scan_build")(
      AzofScan.scanSnapshot(spark, table, snap, asOf, s.projection,
        s.keyFilter, s.valueFilters))
    acc.add("operators.scan_build_ms", buildMs)
    tracer.span("operators.scan_plan") {
      val plan = scanDf.queryExecution.sparkPlan
      acc.add("operators.plan_nodes", plan.collect { case p => p }.size)
      acc.add("operators.scan_nodes",
        plan.collect { case f: FileSourceScanExec => f }.size)
    }

    val df = s.sql match {
      case Some(_) =>
        val (d, ms) = tracer.timed("plans.sql_resolve")(s.frame(spark, lake))
        acc.add("plans.sql_resolve_ms", ms); d
      case None =>
        val (d, ms) = tracer.timed("sources.relation_build")(s.frame(spark, lake))
        acc.add("sources.relation_build_ms", ms); d
    }
    val rows = tracer.span("spark.collect")(df.collect())
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      acc.add(s"spark.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    if (r.kind == "mv_read") {
      // a served read scans the view's state, never an azof relation
      val served = df.queryExecution.optimizedPlan.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.relation.isInstanceOf[graft.sources.AzofRelation] => l
      }.isEmpty
      acc.add("plans.mv_rewrite_hit", if (served) 1 else 0)
    }
    val e = execSinceLast()
    acc.add("exec.ms", e.jobMs)
    acc.add("exec.jobs", e.jobs)
    acc.add("exec.stages", e.stages)
    acc.add("exec.tasks", e.tasks)
    acc.add("exec.task_run_ms", e.runMs)
    acc.add("exec.task_cpu_ms", e.cpuNs / 1e6)
    acc.add("exec.gc_ms", e.gcMs)
    acc.add("exec.input_bytes", e.inBytes)
    acc.add("exec.input_rows", e.inRows)
    acc.add("exec.rows_read_per_row_out", e.inRows.toDouble / math.max(1, rows.length))
    acc.add("exec.shuffle_write_bytes", e.shuffleWrite)
    acc.add("exec.shuffle_fetch_wait_ms", e.fetchWaitMs)
    e.dedupSkew.foreach(acc.add("exec.task_skew", _))
    r.norm(rows)
  }

  private def listing(table: String): Map[String, Long] = {
    val dir = new Path(lake, table)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).filter(_.isFile).map(st => st.getPath.getName -> st.getLen).toMap
  }

  private def tracedWrite(w: Write): Unit = {
    val before = listing(w.table)
    val (_, ms) = tracer.timed(s"sources.${w.sub}")(w.run())
    val e = execSinceLast()
    val added = listing(w.table) -- before.keySet
    val snapBytes = added.collect { case (n, l) if n.endsWith(".json") => l }.sum
    val dataBytes = added.collect { case (n, l) if n.endsWith(".parquet") => l }.sum
    w.kind match {
      case "commit" =>
        acc.add(s"sources.${w.sub}_ms", ms)
        acc.add("sources.commit_jobs", e.jobs)
        acc.add("sources.commit_job_ms", e.jobMs)
        acc.add("sources.commit_meta_ms", ms - e.jobMs)
        acc.add("sources.snapshot_bytes_written", snapBytes)
        acc.add("sources.data_bytes_written", dataBytes)
        acc.add("sources.bytes_written_per_row", (snapBytes + dataBytes).toDouble / math.max(1L, w.rows))
      case "compact" =>
        acc.add("sources.compact_ms", ms)
        acc.add("sources.compact_bytes_rewritten", dataBytes)
      case "mv_refresh" =>
        acc.add("sources.mv_refresh_ms", ms)
        acc.add("sources.mv_refresh_jobs", e.jobs)
        acc.add("sources.mv_refresh_rows_read_per_new_row", e.inRows.toDouble / math.max(1L, w.rows))
      case _ => ()
    }
  }
}
