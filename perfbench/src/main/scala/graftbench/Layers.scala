package graftbench

/** The per-layer metric names, one table for every workload: a call a
  * workload never makes reads 0 there (the layer does no work on it). */
object Layers {
  val Calls: Seq[(String, Seq[String])] = Seq(
    "pipeline" -> Seq("ingest", "asof_station", "asof_all"),
    "sources" -> Seq("append", "upsert_last_wins", "upsert_insert_absent",
      "merge", "delete", "update", "read_point", "read_range", "read_version",
      "read_changes", "optimize", "compact", "prune", "vacuum"),
    "streaming" -> Seq("catch_up"),
    "operators" -> Seq("exact_dedup", "near_dup", "semantic_dedup",
      "ivf_topk", "exact_topk"))

  private val perCall = Seq("ms" -> "ms", "jobs" -> "count",
    "task_s" -> "s", "offjob_ms" -> "ms")

  val all: Seq[(String, String)] =
    Calls.flatMap { case (m, cs) =>
      cs.flatMap(c => perCall.map { case (k, u) => s"$m.$c.$k" -> u })
    } ++ Seq(
      "pipeline.ingest.parallelism" -> "ratio",
      "pipeline.stations_bytes_written" -> "bytes",
      "pipeline.space_amp" -> "ratio",
      "sources.snapshot_head.ms" -> "ms",
      "sources.snapshot_old.ms" -> "ms",
      "sources.versions" -> "count",
      "sources.live_files" -> "count",
      "sources.log_bytes" -> "bytes",
      "sources.point_candidate_ratio" -> "ratio",
      "sources.write_amp" -> "ratio",
      "operators.near_dup.shuffle_mb" -> "MB",
      "operators.semantic_dedup.shuffle_mb" -> "MB",
      "functions.cosine_sim.ns_per_elem" -> "ns/elem",
      "functions.minhash_md5_8.ns_per_gram" -> "ns/gram",
      "functions.simhash_md5.ns_per_gram" -> "ns/gram",
      "functions.word_ngrams_3.ns_per_char" -> "ns/char",
      "functions.jaccard_sim.ns_per_gram" -> "ns/gram",
      "space_amp" -> "ratio",
      "dup_recall" -> "ratio",
      "vec_dup_recall" -> "ratio",
      "topk_recall" -> "ratio",
      "error_rate" -> "ratio",
      "write_p90_ms" -> "ms",
      "read_p90_ms" -> "ms",
      "write_n" -> "count",
      "read_n" -> "count",
      "trace.overhead_frac" -> "ratio",
      "jvm.live_heap_mb" -> "MB",
      "setup.session_s" -> "s")

  /** `<module>.<call>.<stat>` from the tracer's per-call summary. */
  def callValue(calls: Map[String, Tracer.CallStats], name: String): Double = {
    val i = name.lastIndexOf('.')
    if (i < 0) return 0.0
    calls.get(name.substring(0, i)).map { c =>
      name.substring(i + 1) match {
        case "ms" => c.ms
        case "jobs" => c.jobs
        case "task_s" => c.taskS
        case "offjob_ms" => c.offjobMs
        case "shuffle_mb" => c.shuffleMb
        case _ => 0.0
      }
    }.getOrElse(0.0)
  }
}
