package perfbench

/** The metric catalogue. `BENCHMARK.json` names exactly these; an
  * untraced run reports every end-to-end metric, a traced run every
  * per-layer one (0 where the workload never reaches that layer). */
object Metrics {

  /** Measured with tracing off, on every workload. An "operation" is one
    * request on the serving workloads and one fixpoint call or one
    * maintainer's fold of one batch on `graph_refresh`. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ops_per_s" -> "1/s")

  private val graphOps = GraphRefresh.Fixpoints.flatMap(op =>
    Seq(s"graph.${op}_s" -> "s", s"graph.${op}_jobs" -> "jobs"))

  /** Measured in the traced segments. The first block breaks the
    * end-to-end figures down by operation class. */
  val PerLayer: Seq[(String, String)] = Seq(
    "get_p50_ms" -> "ms", "get_p99_ms" -> "ms",
    "query_p50_ms" -> "ms", "query_p99_ms" -> "ms",
    "query_drain_p50_ms" -> "ms",
    "write_p50_ms" -> "ms", "write_p99_ms" -> "ms",
    "event_lag_p50_ms" -> "ms", "event_lag_p99_ms" -> "ms",
    "analytics_s" -> "s", "maintain_batch_p50_ms" -> "ms",
    "failed_frac" -> "ratio", "peak_heap_mb" -> "MB", "trace.overhead_pct" -> "%",
    "api.http_overhead_ms" -> "ms", "api.concurrency_gain" -> "ratio",
    "adt.parse_ms" -> "ms", "adt.plan_ms" -> "ms", "adt.execute_ms" -> "ms",
    "adt.jobs_per_query" -> "jobs", "adt.snapshot_ms" -> "ms", "adt.page_ms" -> "ms",
    "store.point_read_ms" -> "ms", "store.list_rels_ms" -> "ms", "store.write_ms" -> "ms",
    "store.graph_rebuild_ms" -> "ms", "store.journal_files_at_fold" -> "files",
    "store.fold_ms" -> "ms", "store.fold_jobs" -> "jobs",
    "store.bytes_per_user_byte" -> "ratio", "store.import_s" -> "s",
    "streaming.drain_ms" -> "ms", "streaming.drain_jobs" -> "jobs",
    "streaming.backlog_rows" -> "rows", "events.derive_ms" -> "ms",
    "events.per_mutation" -> "ratio") ++ graphOps ++ Seq(
    "graph.maintain_degrees_ms" -> "ms", "graph.maintain_components_ms" -> "ms",
    "graph.maintain_kcore_ms" -> "ms", "graph.maintain_jobs_per_batch" -> "jobs",
    "core.leaked_rdds" -> "count",
    "spark.jobs" -> "jobs/op", "spark.stages" -> "stages/op", "spark.tasks" -> "tasks/op",
    "spark.task_run_s" -> "s/op", "spark.task_cpu_s" -> "s/op", "spark.gc_s" -> "s/op",
    "spark.shuffle_bytes" -> "bytes/op", "spark.spill_bytes" -> "bytes/op",
    "spark.sched_delay_ms" -> "ms/task")

  /** Record the listener totals of a traced segment, per operation. */
  def sparkCounters(out: Outcome, c: JobCounter, ops: Long): Unit = {
    val n = math.max(ops, 1L).toDouble
    out.metric("spark.jobs", c.jobs.sum / n, "jobs/op")
    out.metric("spark.stages", c.stages.sum / n, "stages/op")
    out.metric("spark.tasks", c.tasks.sum / n, "tasks/op")
    out.metric("spark.task_run_s", c.taskRunMs.sum / 1000.0 / n, "s/op")
    out.metric("spark.task_cpu_s", c.taskCpuNs.sum / 1e9 / n, "s/op")
    out.metric("spark.gc_s", c.gcMs.sum / 1000.0 / n, "s/op")
    out.metric("spark.shuffle_bytes", c.shuffleBytes.sum / n, "bytes/op")
    out.metric("spark.spill_bytes", c.spillBytes.sum / n, "bytes/op")
    out.metric("spark.sched_delay_ms",
      c.schedDelayMs.sum.toDouble / math.max(c.tasks.sum, 1L), "ms/task")
  }
}
