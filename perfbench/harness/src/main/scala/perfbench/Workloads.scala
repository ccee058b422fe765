package perfbench

/** The benchmark's workloads: pinned query lists over the engine's registry,
  * each sized so that one run (fresh JVM, set-up, cold pass, warm window)
  * takes about a minute on 4 cores; `perfbench/README.md` says why. */
object Workloads {
  /** Checkpointed fixpoint rounds (PageRank, connected components), the
    * triangle self-joins and the TF-IDF similarity join, on the x2 corpus:
    * about 110 small jobs a pass, most of them the builders' own rounds. */
  val fixpoint: Seq[String] = Seq("graph_pagerank", "graph_triangles", "dedup_clusters",
    "tfidf_doc_sim")

  /** The tables `fixpoint` reads, the only ones the x2 corpus build writes. */
  val fixpointTables: Set[String] = Set("lineitem", "documents")

  /** The reference's own pipeline shape: per-file ingest (text, CSV,
    * images), map and reduce, each result written out. */
  val mapreduce: Seq[String] = Seq("file_ingest", "file_shard_stats", "csv_roundtrip",
    "pipe_cat_count", "pipe_tr_histogram", "mm_image_phash", "mm_resize", "word_count",
    "grep_text", "text_stats")

  /** Window seconds per warm pass: fixes how many passes a `--seconds`
    * window holds (`--seconds 20` gives 2 and 5). Chosen to keep one run
    * near a minute on 4 cores, not to equal a pass's own wall time. */
  val secondsPerPass: Map[String, Double] = Map("fixpoint_x2" -> 10.0, "mapreduce_files" -> 4.0)

  def queries(workload: String): Seq[String] = workload match {
    case "fixpoint_x2"     => fixpoint
    case "mapreduce_files" => mapreduce
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
