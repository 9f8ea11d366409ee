package perfbench

/** The metric names every run reports, with their units. Untraced runs
  * report every end-to-end metric; traced runs report every per-layer
  * metric, 0 where a layer does no work on the workload. BENCHMARK.json
  * lists the same names. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "p50_ms" -> "ms",
    "read_p50_ms" -> "ms",
    "quality" -> "ratio",
    "storage_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.decode_ms" -> "ms",
    "sources.scan_mb" -> "MB",
    "sources.dropped" -> "count",
    "kernels.window_ms" -> "ms",
    "kernels.clahe_ms" -> "ms",
    "kernels.blur_ms" -> "ms",
    "kernels.png_encode_ms" -> "ms",
    "kernels.region_grow_ms" -> "ms",
    "kernels.perimeter_ms" -> "ms",
    "kernels.bf_ms" -> "ms",
    "operators.slice_table_ms" -> "ms",
    "operators.png_sink_ms" -> "ms",
    "operators.mask_metrics_ms" -> "ms",
    "operators.analytic_ms" -> "ms",
    "functions.dedup.build_s" -> "s",
    "functions.similarity.build_s" -> "s",
    "functions.emb.build_s" -> "s",
    "functions.multimodal.phash_build_s" -> "s",
    "functions.dedup.job_s" -> "s",
    "functions.similarity.job_s" -> "s",
    "functions.multimodal.job_s" -> "s",
    "caches.job_s" -> "s",
    "streaming.job_s" -> "s",
    "functions.jobs_per_batch" -> "count",
    "functions.stages_per_batch" -> "count",
    "functions.tasks_per_batch" -> "count",
    "functions.shuffle_mb_per_batch" -> "MB",
    "functions.spill_mb_per_batch" -> "MB",
    "functions.dedup.pairs_per_batch" -> "count",
    "functions.dedup.dropped_per_batch" -> "count",
    "functions.similarity.exec_ms" -> "ms",
    "functions.similarity.jobs_per_request" -> "count",
    "functions.similarity.shuffle_kb_per_request" -> "KB",
    "functions.similarity.candidates_per_query" -> "count",
    "plans.topk_yield" -> "ratio",
    "plans.driver_ms" -> "ms",
    "plans.function_reregistrations" -> "count",
    "streaming.trigger_ms" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "streaming.policy_fires" -> "count",
    "caches.storage_mb_setup" -> "MB",
    "caches.storage_growth_mb_per_batch" -> "MB",
    "caches.registered_frames" -> "count",
    "caches.artifacts" -> "count",
    "caches.artifact_builds_in_serve" -> "count",
    "trace.overhead_share" -> "ratio",
    "trace.accounted_share" -> "ratio")

  /** Module a job belongs to, from the source file of its call site;
    * None when the call site is not one of the program's module files. */
  def moduleOf(file: String): Option[String] = file match {
    case "Dedup.scala" => Some("functions.dedup")
    case "Similarity.scala" | "BlockedExact.scala" | "TopK.scala" => Some("functions.similarity")
    case "Multimodal.scala" => Some("functions.multimodal")
    case "GraftCaches.scala" => Some("caches")
    case "IngestServing.scala" => Some("streaming")
    case _ => None
  }
}
