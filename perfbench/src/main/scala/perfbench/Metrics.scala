package perfbench

/** The metric names and units the result line carries; BENCHMARK.json lists
  * the same names (MetricsSpec checks it). */
object Metrics {

  /** Printed on every untraced run. Each workload fills the generic names
    * with its own operation (README.md, "End-to-end metrics"): every
    * metric is measured, and never 0, on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "main_p50_s" -> "s",
    "main_tail_s" -> "s",
    "side_p50_s" -> "s",
    "work_per_s" -> "1/s")

  val Operators: Seq[String] = Seq("minhash_lsh", "simhash_dedup",
    "span_dedup", "decontaminate_near", "components")

  /** Printed on every traced run; 0 where the workload does not reach the
    * layer. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.produce.call_s" -> "s",
    "sources.produce.jobs" -> "count",
    "sources.topic.segments" -> "count",
    "sources.scan.segments_read" -> "count",
    "sources.scan.prune_ratio" -> "ratio",
    "sources.scan.input_bytes" -> "bytes",
    "sources.stream.lag_segments_max" -> "count",
    "sources.stream.latest_offset_ms" -> "ms",
    "sources.stream.get_batch_ms" -> "ms",
    "sources.stream.rows_per_batch" -> "count",
    "core.admin.peek_s" -> "s",
    "core.admin.by_id_s" -> "s",
    "core.admin.by_timestamp_s" -> "s",
    "core.admin.backlog_s" -> "s",
    "core.admin.jobs_per_call" -> "count",
    "core.tableview.refresh_s" -> "s",
    "core.tableview.get_s" -> "s",
    "ops.topic_compactor.compact_s" -> "s",
    "streaming.batch.add_batch_ms" -> "ms",
    "streaming.batch.planning_ms" -> "ms",
    "streaming.batch.commit_ms" -> "ms",
    "streaming.batch.trigger_ms" -> "ms",
    "streaming.batch.jobs" -> "count",
    "streaming.batches" -> "count",
    "streaming.state.rows" -> "count",
    "streaming.state.memory_bytes" -> "bytes",
    "streaming.state.commit_ms" -> "ms",
    "streaming.state.rows_evicted" -> "count") ++
    (Operators ++ Seq("hits", "pagerank")).flatMap(o => Seq(
      s"ops.$o.call_s" -> "s", s"ops.$o.jobs" -> "count",
      s"ops.$o.task_s" -> "s", s"ops.$o.core_util" -> "ratio",
      s"ops.$o.shuffle_bytes" -> "bytes")) ++
    Seq(
      "ops.pairs.candidates" -> "count",
      "ops.pairs.verified_ratio" -> "ratio",
      "ops.hits.jobs_per_round" -> "count",
      "ops.pagerank.jobs_per_round" -> "count",
      "spark.jobs" -> "count",
      "spark.tasks" -> "count",
      "spark.task_s" -> "s",
      "spark.gc_s" -> "s",
      "spark.driver_gap_s" -> "s",
      "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes",
      "spark.blocks_retained" -> "count",
      "spark.unattributed_jobs" -> "count",
      "bench.gen_late_max_s" -> "s",
      "bench.trace_overhead" -> "ratio")
}
