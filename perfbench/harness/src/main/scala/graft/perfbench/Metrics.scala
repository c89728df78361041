package graft.perfbench

final case class MetricDef(name: String, unit: String)

/** Every metric the benchmark reports, by name and unit. BENCHMARK.json
  * lists the same names (checked by MetricsSpec). A metric a workload
  * does not exercise reads 0 in that workload's traced run.
  */
object Metrics {
  val NamePattern = "[A-Za-z0-9_.-]+"

  private def defs(unit: String, names: String*) = names.map(MetricDef(_, unit))

  /** Reported with tracing off. */
  val endToEnd: Seq[MetricDef] = Seq(
    MetricDef("setup_s", "s"),
    MetricDef("items_per_s", "1/s"),
    MetricDef("op_p50_s", "s"))

  /** Reported by the traced run. */
  val perLayer: Seq[MetricDef] =
    // graft.fs
    defs("s", "fs.list_s", "fs.dupcheck_s", "fs.binpack_s") ++
    defs("count", "fs.list_entries", "fs.bins") ++
    defs("ratio", "fs.bin_bytes_max_over_mean") ++
    // graft.exec
    defs("ms", "exec.spawn_ms_p50", "exec.spawn_ms_p90") ++
    defs("1/s", "exec.spawn_per_s_4t") ++
    defs("MiB/s", "exec.pump_mb_per_s") ++
    // graft.operators.DistExecJob
    defs("s", "distexec.run_s", "distexec.counters_s", "distexec.failure_log_s") ++
    defs("ms", "distexec.ms_per_file", "distexec.rename_ms_p50") ++
    defs("count", "distexec.files_ok", "distexec.files_failed") ++
    defs("bytes", "distexec.bytes_in", "distexec.bytes_out", "distexec.bytes_err") ++
    // Spark runtime, from the listener
    defs("count", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_failed") ++
    defs("s", "spark.sched_delay_s", "spark.task_run_s", "spark.task_cpu_s", "spark.gc_s") ++
    defs("ratio", "spark.busy_frac") ++
    defs("bytes", "spark.scan_bytes") ++
    defs("count", "spark.scan_rows") ++
    defs("bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes") ++
    defs("s", "spark.shuffle_fetch_wait_s") ++
    defs("bytes", "spark.spill_bytes", "spark.result_bytes") ++
    // graft.SparkEntry / graft.queries
    defs("s", "queries.build_s", "queries.plan_s", "queries.collect_s",
      "queries.a_s", "queries.b_s", "queries.c_s", "queries.d_s") ++
    defs("count", "queries.rows") ++
    // self time per span name, per traced pass
    SelfSpans.map(s => MetricDef(s"self.${s}_s", "s")) ++
    defs("ratio", "trace.overhead_frac")

  /** The span names the traced run records. */
  lazy val SelfSpans: Seq[String] = Seq("op", "fs.list", "fs.dupcheck", "fs.binpack",
    "distexec.run", "distexec.counters", "distexec.failure_log",
    "queries.build", "queries.plan", "queries.collect", "spark.job")

  def unitOf(name: String): String =
    (endToEnd ++ perLayer).find(_.name == name).map(_.unit)
      .getOrElse(throw new IllegalArgumentException(s"unknown metric $name"))
}
