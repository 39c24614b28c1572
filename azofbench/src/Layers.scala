package azofbench

/** The per-layer metrics a traced run reports, with their units. Times
  * and counts are means per op that made the call (0 when no op did);
  * `sources.table_*` describe the table at the end of the traced phase.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "format.snapshot_read_ms" -> "ms",
    "format.snapshot_bytes" -> "bytes",
    "format.files_in_tree" -> "count",
    "format.files_after_time" -> "count",
    "format.files_after_keys" -> "count",
    "format.files_after_values" -> "count",
    "format.files_read_ratio" -> "ratio",
    "format.prune_ms" -> "ms",
    "plans.sql_resolve_ms" -> "ms",
    "plans.mv_rewrite_hit_ratio" -> "ratio",
    "sources.relation_build_ms" -> "ms",
    "spark.analysis_ms" -> "ms",
    "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms",
    "operators.scan_build_ms" -> "ms",
    "operators.scan_nodes" -> "count",
    "operators.plan_nodes" -> "count",
    "exec.ms" -> "ms",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.input_bytes" -> "bytes",
    "exec.input_rows" -> "count",
    "exec.rows_read_per_row_out" -> "ratio",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_fetch_wait_ms" -> "ms",
    "exec.task_skew" -> "ratio",
    "sources.commit_delta_ms" -> "ms",
    "sources.commit_delete_ms" -> "ms",
    "sources.merge_ms" -> "ms",
    "sources.commit_jobs" -> "count",
    "sources.commit_job_ms" -> "ms",
    "sources.commit_meta_ms" -> "ms",
    "sources.snapshot_bytes_written" -> "bytes",
    "sources.data_bytes_written" -> "bytes",
    "sources.bytes_written_per_row" -> "bytes",
    "sources.compact_ms" -> "ms",
    "sources.compact_bytes_rewritten" -> "bytes",
    "sources.table_files" -> "count",
    "sources.table_bytes" -> "bytes",
    "sources.mv_refresh_ms" -> "ms",
    "sources.mv_refresh_jobs" -> "count",
    "sources.mv_refresh_rows_read_per_new_row" -> "ratio",
    "trace.ops_per_s" -> "1/s",
    "trace.base_ops_per_s" -> "1/s",
    "trace.overhead_ratio" -> "ratio")

  def metrics(acc: Acc, rate: Double, baseRate: Double, tableBytes: Long,
      tableFiles: Int): Seq[(String, (Double, String))] = {
    val special = Map(
      "plans.mv_rewrite_hit_ratio" -> acc.mean("plans.mv_rewrite_hit"),
      "sources.table_files" -> tableFiles.toDouble,
      "sources.table_bytes" -> tableBytes.toDouble,
      "trace.ops_per_s" -> rate,
      "trace.base_ops_per_s" -> baseRate,
      "trace.overhead_ratio" -> baseRate / rate)
    units.map { case (n, u) => n -> (special.getOrElse(n, acc.mean(n)), u) }
  }
}
