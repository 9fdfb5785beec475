package perfbench

/** The per-layer metric set every traced run prints. A layer the
  * workload never calls reads 0: that is its measured work there. */
object Layers {
  /** The layers a timed pass calls directly, so their self time can be
    * told apart from outside. `sources` is not one: in a timed pass its
    * readers and writers run inside `CompactorJob`, `StreamingIngest` and
    * `Dashboard`, so its time counts in `jobs`, `streaming` and `analytics`. */
  val Modules: Seq[String] = Seq("core", "state", "jobs", "streaming", "analytics", "operators")

  private val named: Seq[(String, String)] = Seq(
    "state.claim_ms" -> "ms", "state.ack_ms" -> "ms", "state.schema_ms" -> "ms",
    "state.calls" -> "count",
    "jobs.batches" -> "count", "jobs.spark_jobs_per_batch" -> "count",
    "jobs.driver_only_s_per_batch" -> "s", "jobs.executor_cpu_s" -> "s",
    "jobs.requeued_keys" -> "count", "jobs.quarantined_rows" -> "count",
    "jobs.compaction_spark_jobs" -> "count", "jobs.compaction_executor_cpu_s" -> "s",
    "sources.bronze_input_bytes" -> "bytes", "sources.output_bytes" -> "bytes",
    "sources.write_amplification" -> "ratio", "sources.silver_files" -> "count",
    "sources.silver_files_per_partition" -> "count", "sources.silver_bytes" -> "bytes",
    "streaming.batches" -> "count", "streaming.trigger_ms_p50" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.executor_cpu_s" -> "s",
    "analytics.unit_list_ms_p50" -> "ms", "analytics.slice_agg_ms_p50" -> "ms",
    "analytics.planning_ms_p50" -> "ms", "analytics.files_read_per_request" -> "count",
    "analytics.bytes_read_per_request" -> "bytes", "analytics.spark_jobs_per_request" -> "count",
    "core.session_start_s" -> "s", "core.warmup_s" -> "s",
    "trace.overhead_s" -> "s", "trace.spans" -> "count") ++
    Modules.map(m => s"$m.self_s" -> "s") ++
    CurationWorkload.Queries.flatMap { q =>
      Seq(s"operators.$q.wall_s" -> "s", s"operators.$q.planning_s" -> "s",
        s"operators.$q.spark_jobs" -> "count", s"operators.$q.executor_cpu_s" -> "s",
        s"operators.$q.shuffle_bytes" -> "bytes")
    }

  private val units: Map[String, String] = named.toMap

  def names: Seq[String] = named.map(_._1)

  def unit(name: String): String = units.getOrElse(name, sys.error(s"undeclared per-layer metric $name"))

  /** Every metric at 0, for a workload to overwrite with what it measured. */
  def all: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Self time per layer: each span's duration minus its children's. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] =
    Modules.map { m =>
      s"$m.self_s" -> spans.filter(_.layer == m).map(Trace.selfMs).sum / 1000.0
    }.toMap
}
