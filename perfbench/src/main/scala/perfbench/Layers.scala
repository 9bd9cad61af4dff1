package perfbench

/** Every per-layer metric a traced run prints, with its unit, in the
  * order of BENCHMARK.json. A layer a workload does not exercise reads 0
  * on it. Per-op values are means over the workload's user operations
  * (blq_agent: tool calls; suite_sf0.1: queries; corpus_loop: batches). */
object Layers {
  val mlFiles: Seq[String] = Seq("BandIndex", "SigIndex", "NgramIndex", "FuzzyJoin",
    "LexIndex", "IvfIndex", "Tombstones", "Decontaminate", "CorpusPipeline")

  val names: Seq[(String, String)] = Seq(
    "blq.import_p50_s" -> "s",
    "blq.read_p50_s" -> "s",
    "blq.read_p90_s" -> "s",
    "parse.mb_per_s" -> "MB/s",
    "parse.detect_share" -> "share",
    "parse.events" -> "count",
    "store.jobs_per_import" -> "count",
    "store.schema_jobs_per_import" -> "count",
    "store.open_s" -> "s",
    "store.files" -> "count",
    "store.bytes_per_log_byte" -> "ratio",
    "analytics.build_s" -> "s",
    "analytics.exec_s" -> "s",
    "api.self_s" -> "s",
    "plans.analysis_s" -> "s/op",
    "plans.optimization_s" -> "s/op",
    "plans.planning_s" -> "s/op",
    "suite.total_s" -> "s",
    "queries.build_s" -> "s/op",
    "queries.build_jobs" -> "count/op",
    "queries.exec_s" -> "s/op",
    "corpus.docs_per_s" -> "1/s",
    "corpus.index_bytes_per_doc" -> "B",
    "ml.screen_wall_s" -> "s",
    "ml.maintain_s" -> "s",
    "ml.forget_s" -> "s") ++
    mlFiles.flatMap(f => Seq(s"ml.$f.jobs" -> "count/op", s"ml.$f.job_s" -> "s/op")) ++
    Seq(
      "ml.drop_share" -> "share",
      "ml.index_files" -> "count",
      "streaming.batch_overhead_s" -> "s",
      "spark.jobs" -> "count/op",
      "spark.stages" -> "count/op",
      "spark.tasks" -> "count/op",
      "spark.task_s" -> "s/op",
      "spark.core_util" -> "share",
      "spark.task_skew" -> "ratio",
      "spark.shuffle_bytes" -> "B/op",
      "spark.spill_bytes" -> "B/op",
      "spark.input_bytes" -> "B/op",
      "spark.output_bytes" -> "B/op",
      "spark.gc_s" -> "s/op")
}
