package perfbench

/** Every metric the benchmark prints, with its unit. The lists must match
  * BENCHMARK.json; an untraced run prints `EndToEnd`, a traced run
  * `PerLayer`, each in full on every workload (0 where a layer is not
  * used by the workload). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "read_p50_ms" -> "ms",
    "write_items_per_s" -> "1/s",
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB")

  private def streaming(kind: String): Seq[(String, String)] = Seq(
    s"streaming.$kind.batches" -> "count",
    s"streaming.$kind.jobs_per_batch" -> "count",
    s"streaming.$kind.add_batch_ms" -> "ms",
    s"streaming.$kind.query_planning_ms" -> "ms",
    s"streaming.$kind.wal_commit_ms" -> "ms",
    s"streaming.$kind.latest_offset_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    // spark
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.busy_core_s" -> "s",
    "spark.util" -> "ratio",
    "spark.shuffle_bytes" -> "B",
    "spark.shuffle_records" -> "count",
    "spark.spill_bytes" -> "B",
    "spark.input_bytes_per_op" -> "B",
    "spark.output_bytes" -> "B",
    "spark.analysis_ms" -> "ms",
    "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms",
    "call.build_ms" -> "ms",
    "call.exec_ms" -> "ms",
    // codegen, functions
    "codegen.compiles" -> "count",
    "codegen.compile_ms" -> "ms",
    "codegen.fallbacks" -> "count",
    // environment
    "jvm.gc_ms" -> "ms",
    "env.canary_ms" -> "ms",
    // ops
    "catalog.p50_ms" -> "ms",
    "catalog.p90_ms" -> "ms",
    "catalog.ops_per_s" -> "1/s",
    "ops.search_p50_ms" -> "ms",
    "ops.by_ids_p50_ms" -> "ms",
    "ops.by_id_p50_ms" -> "ms",
    "ops.regex_p50_ms" -> "ms",
    "ops.moderate_p50_ms" -> "ms",
    "ops.report_p50_ms" -> "ms",
    "catalog.repeat_share" -> "ratio",
    "scan.rows_examined_per_row_returned" -> "ratio",
    // ingest, merge, sources, util
    "sync.items_per_s" -> "1/s",
    "sync.batch_p50_s" -> "s",
    "ingest.jobs_per_batch" -> "count",
    "ingest.cursor_ms" -> "ms",
    "ingest.page_window_ms" -> "ms",
    "ingest.dead_letter_ms" -> "ms",
    "merge.state_read_ms" -> "ms",
    "merge.write_ms" -> "ms",
    "ingest.unmapped_ms" -> "ms",
    "sources.scan_tasks_per_batch" -> "count",
    "sources.giveup_pages" -> "count",
    "merge.useful_ratio" -> "ratio",
    "ingest.dead_letter_ratio" -> "ratio",
    "merge.state_rows" -> "count") ++
    // streaming, datax, functions
    streaming("text") ++ streaming("vector") ++ Seq(
    "dedup.text_kept_ratio" -> "ratio",
    "dedup.vector_kept_ratio" -> "ratio",
    "ingest.docs_per_s" -> "1/s",
    "ingest.vectors_per_s" -> "1/s",
    "ingest.text_drive_s" -> "s",
    "ingest.vector_drive_s" -> "s",
    "index.build_s" -> "s",
    "index.build_jobs" -> "count",
    "search.topk_p50_ms" -> "ms",
    "search.jobs_per_query" -> "count",
    "search.planning_ms" -> "ms",
    "search.exec_ms" -> "ms",
    "search.recall_at_10" -> "ratio") ++
    // the end-to-end metrics as measured with tracing on
    EndToEnd.map { case (n, u) => s"traced.$n" -> u }
}
