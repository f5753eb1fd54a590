package perfbench

/** Metric names and units as BENCHMARK.json lists them. Every run reports
  * all end-to-end metrics (untraced) or all per-layer metrics (traced). */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_s" -> "s",
    "pass_s" -> "s",
    "peak_rss_mb" -> "MB")

  /** Layer names are the engine's modules; values are per traced pass. */
  val perLayer: Seq[(String, String)] = Seq(
    "engine.session_s" -> "s",
    "engine.warmup_s" -> "s",
    "queries.build_s" -> "s",
    "queries.plan_s" -> "s",
    "queries.exec_s" -> "s",
    "queries.jobs" -> "count",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "queries.gap_s" -> "s",
    "queries.executor_run_s" -> "s",
    "queries.executor_cpu_s" -> "s",
    "queries.core_use" -> "ratio",
    "queries.shuffle_read_bytes" -> "bytes",
    "queries.shuffle_write_bytes" -> "bytes",
    "queries.scan_bytes" -> "bytes",
    "pipeline.ep1.jobs" -> "count",
    "pipeline.ep1.stages" -> "count",
    "pipeline.ep1.tasks" -> "count",
    "pipeline.ep1.executor_run_s" -> "s",
    "pipeline.ep1.executor_cpu_s" -> "s",
    "pipeline.ep1.gc_s" -> "s",
    "pipeline.ep1.core_use" -> "ratio",
    "pipeline.ep1.spill_bytes" -> "bytes",
    "pipeline.ep1.skew" -> "ratio",
    "pipeline.ep1.gap_s" -> "s",
    "model.scan_rows_per_input_row" -> "ratio",
    "model.scan_bytes" -> "bytes",
    "io.sinks.write_s" -> "s",
    "io.sinks.output_bytes" -> "bytes",
    "io.sinks.files" -> "count",
    "io.jdbc_s" -> "s",
    "ops.cache_bytes" -> "bytes",
    "pipeline.ingest.jobs" -> "count",
    "pipeline.ingest.gap_s" -> "s",
    "pipeline.ingest.core_use" -> "ratio",
    "pipeline.ingest.checkpoint_jobs" -> "count",
    "io.versioned.chain_length" -> "count",
    "io.versioned.bytes_per_batch" -> "bytes",
    "ops.manifest.files" -> "count",
    "pipeline.forget.files_rewritten" -> "count",
    "ops.dedup.label_changes" -> "count",
    "streaming.replay.markers" -> "count",
    "pipeline.corpus.jobs" -> "count",
    "pipeline.corpus.checkpoint_jobs" -> "count",
    "pipeline.corpus.shuffle_bytes" -> "bytes",
    "trace.overhead" -> "ratio")
}
