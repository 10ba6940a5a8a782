package perfbench

/** Names and units of the per-layer metrics (BENCHMARK.json `per_layer`).
  * Every traced run reports all of them; a layer the workload never
  * enters reads 0.
  */
object Layers {
  val Entries: Seq[String] = Seq("bm25_text", "phrase_text", "ann_vectors",
    "mmr_vectors", "hybrid", "diversified")

  val Families: Seq[String] = Seq("Pipeline", "Core", "Text", "Dedup",
    "Similarity", "Multimodal", "Extended", "Advanced", "CorpusPrep",
    "Retrieval")

  val all: Seq[(String, String)] =
    (for (j <- Seq("fetch", "combine", "load");
          (m, u) <- Seq("wall_s" -> "s", "spark_jobs" -> "count",
            "task_s" -> "s", "driver_s" -> "s", "shuffle_bytes" -> "B",
            "bytes_written" -> "B"))
      yield s"jobs.$j.$m" -> u) ++
    Seq("jobs.load.rewrite_ratio" -> "ratio") ++
    (for (m <- Seq("postings", "phrase", "takedown");
          (k, u) <- Seq("trigger_s" -> "s", "bytes_written" -> "B"))
      yield s"streaming.$m.$k" -> u) ++
    (for (e <- Entries; (k, u) <- Seq("wall_s" -> "s", "spark_jobs" -> "count"))
      yield s"analytics.cold.$e.$k" -> u) ++
    (for (e <- Entries;
          (k, u) <- Seq("p50_ms" -> "ms", "construct_ms" -> "ms",
            "spark_jobs" -> "count", "driver_ms" -> "ms", "task_ms" -> "ms",
            "janino" -> "count"))
      yield s"analytics.serve.$e.$k" -> u) ++
    (for (f <- Families;
          (k, u) <- Seq("wall_s" -> "s", "spark_jobs" -> "count",
            "task_s" -> "s", "driver_s" -> "s", "shuffle_bytes" -> "B"))
      yield s"analytics.catalog.$f.$k" -> u) ++
    Seq("analytics.catalog.janino" -> "count", "bench.publish_s" -> "s",
      "bench.trace_overhead_ms" -> "ms")
}
