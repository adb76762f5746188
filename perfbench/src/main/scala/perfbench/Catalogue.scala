package perfbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json at the
  * checkout root lists the same names; run.py refuses a result whose names
  * differ from it, so the two cannot drift apart silently.
  *
  * End-to-end metrics are reported by every workload (each workload has
  * one timed operation; see README.md for what it is). Per-layer metrics
  * come from the traced run; a layer a workload does not exercise reads 0.
  */
object Catalogue {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "work_per_s" -> "1/s",
    "retained_heap_mb" -> "MB")

  /** Operations whose Spark jobs are attributed (one job group per call;
    * `build` is the `query` workload's set-up build). */
  val sparkOps: Seq[String] =
    Seq("build", "wand", "bool", "jaccard", "minhash", "substring")

  val sparkFields: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "empty_task_frac" -> "ratio",
    "shuffle_write_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "task_cpu_s" -> "s", "gc_s" -> "s",
    "failed_tasks" -> "count")

  val perLayer: Seq[(String, String)] = Seq(
    "analysis.tokens" -> "count",
    "analysis.tokens_per_s" -> "1/s",
    "codec.encode_postings_per_s" -> "1/s",
    "codec.decode_postings_per_s" -> "1/s",
    "codec.bytes_per_posting" -> "bytes",
    "codec.blocks" -> "count",
    "search.bm25_scores_per_s" -> "1/s",
    "search.parse_us" -> "us",
    "search.blocks_per_query" -> "count",
    "search.score_stage_run_ms" -> "ms",
    "search.driver_ms" -> "ms",
    "search.wand_p50_ms" -> "ms",
    "search.wand_p90_ms" -> "ms",
    "search.bool_p50_ms" -> "ms",
    "search.bool_p90_ms" -> "ms",
    "index.stage.segments_s" -> "s",
    "index.stage.collstats_s" -> "s",
    "index.stage.hotterms_s" -> "s",
    "index.stage.postings_s" -> "s",
    "index.stage.termstats_s" -> "s",
    "index.bytes.segments" -> "bytes",
    "index.bytes.postings" -> "bytes",
    "index.bytes.termstats" -> "bytes",
    "index.bytes_per_input_byte" -> "ratio",
    "index.termstats_ms" -> "ms",
    "index.reader_open_ms" -> "ms",
    "index.first_query_ms" -> "ms",
    "operators.shingles" -> "count",
    "operators.jaccard_pairs" -> "count",
    "operators.minhash_pairs" -> "count",
    "operators.substring_pairs" -> "count",
    "operators.jaccard_s" -> "s",
    "operators.minhash_s" -> "s",
    "operators.substring_s" -> "s",
    "spark.cached_datasets" -> "count",
    "spark.cached_bytes" -> "bytes",
    "bench.leaked_temp_dirs" -> "count",
    "bench.error_rate" -> "ratio",
    "trace.overhead_ms" -> "ms") ++
    (for (op <- sparkOps; (f, u) <- sparkFields) yield s"spark.$op.$f" -> u)

  lazy val units: Map[String, String] = (endToEnd ++ perLayer).toMap
}
