package perfbench

/** The metric names every run reports, with their units. Each workload
  * reports every name; a per-layer metric of a layer the workload does not
  * exercise reads 0 (see README.md for which layers each workload drives). */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "ops_per_s" -> "1/s",
    "p50_ms" -> "ms",
    "tail_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "index.build_s" -> "s",
    "index.blocks_s" -> "s",
    "index.docs_s" -> "s",
    "index.dict_s" -> "s",
    "index.blocks" -> "count",
    "direct.write_s" -> "s",
    "direct.open_s" -> "s",
    "direct.index_bytes" -> "bytes",
    "direct.bytes_per_doc" -> "bytes",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "spark.task_busy_ratio" -> "ratio",
    "spark.stage_skew" -> "ratio",
    "spark.task_busy_ratio.half" -> "ratio",
    "spark.stage_skew.half" -> "ratio",
    "spark.scaling_eff" -> "ratio",
    "search.p50_ms.terms_1" -> "ms",
    "search.p50_ms.terms_2" -> "ms",
    "search.p50_ms.terms_3" -> "ms",
    "search.bytes_read_per_query" -> "bytes",
    "search.alloc_bytes_per_query" -> "bytes",
    "search.self_ms" -> "ms",
    "search.block_misses_per_query" -> "count",
    "search.working_set_blocks" -> "count",
    "serving.search_ms" -> "ms",
    "serving.detail_ms" -> "ms",
    "serving.self_ms" -> "ms",
    "http.transport_ms" -> "ms",
    "http.response_bytes" -> "bytes",
    "http.backlog_max" -> "count",
    "http.generator_lag_ms" -> "ms",
    "jvm.gc_ms" -> "ms",
    "trace.overhead_pct" -> "%",
    "trace.spans" -> "count")

  /** The final result line: `metrics` holds exactly the names of `spec`;
    * a name missing from `values` reads 0. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 spec: Seq[(String, String)], values: Map[String, Double]): String = {
    val ms = spec.map { case (name, unit) =>
      name -> Json.obj(Seq("value" -> Json.num(values.getOrElse(name, 0.0)),
        "unit" -> Json.str(unit)))
    }
    Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(ms)))
  }
}
