package perfbench

/** The per-layer metrics every traced run reports, with their units. A
  * layer a workload does not exercise reports 0 there (for example the
  * streaming layer on the query workloads).
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "session.build_s" -> "s",
    "session.warmup_s" -> "s",
    "ops.build_s" -> "s",
    "ops.build_jobs" -> "count",
    "sql.plan_s" -> "s",
    "exec.exec_s" -> "s",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.task_busy_s" -> "s",
    "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s",
    "exec.slot_busy_ratio" -> "ratio",
    "exec.codegen_compile_s" -> "s",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.peak_exec_mem_mb" -> "MB",
    "ingest.parse_s" -> "s",
    "ingest.parse_jobs" -> "count",
    "ingest.rows_clean" -> "count",
    "ingest.rows_rejected" -> "count",
    "sink.append_s" -> "s",
    "sink.batches" -> "count",
    "sink.jobs_per_batch" -> "ratio",
    "sink.files_written" -> "count",
    "sink.bytes_per_row" -> "bytes",
    "stream.triggers" -> "count",
    "stream.add_batch_s" -> "s",
    "stream.latest_offset_s" -> "s",
    "stream.wal_commit_s" -> "s",
    "stream.jobs_per_file" -> "ratio",
    "stream.sink_write_s" -> "s",
    "stream.error_write_s" -> "s",
    "notify.success" -> "count",
    "notify.error" -> "count",
    "notify.no_data" -> "count",
    "lifecycle.archived_files" -> "count",
    "ops_failed_ratio" -> "ratio",
    "trace.overhead_pct" -> "%")

  /** End-to-end metrics, reported by every workload. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "batch_s" -> "s",
    "op_p50_s" -> "s",
    "batch_cpu_s" -> "s")

  def metrics(spec: Seq[(String, String)], values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- spec.map(_._1)
    require(unknown.isEmpty, s"unlisted metrics: ${unknown.mkString(", ")}")
    spec.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Execution-layer figures of one phase from a traced delta. */
  def exec(d: Tracer.Snapshot, phase: String): Map[String, Double] =
    Seq("jobs", "stages", "tasks", "task_busy_s", "task_cpu_s", "gc_s",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
      .map(c => s"exec.$c" -> d(s"$phase.$c")).toMap +
      ("exec.codegen_compile_s" -> d.codegenS)
}
