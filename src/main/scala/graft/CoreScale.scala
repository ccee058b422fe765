package graft

/** Core-scaling audit (r19 verdict #3): the driver's 8-vs-32-core block
  * is uninformative at sf0.1 — every ratio ≈ 1 because the board is
  * fixed-cost-bound at that scale — so this main measures the heavy
  * query family on the ×10 SYNTHESIZED corpus ([[ScaleStress.synthesize]]
  * — disjoint-key replicas, the same corpus the exponent audit uses) at
  * whatever core count `SPARK_GRAFT_CPUS` names. Run it twice (8 and 32)
  * and divide: rows with real shuffle/CPU work should show ratios well
  * above 1; rows that stay ≈ 1 need a named limiter (driver-paced loop,
  * output-sized, I/O-bound), which the committed SCALE_r19_cores.json
  * records next to the numbers.
  *
  * Methodology matches Bench: shuffle partitions are DATA-sized (32 ×
  * factor, the dataSizedPartitions rule — identical at both core counts
  * so the partition count never masquerades as core scaling), each query
  * is re-run until its two smallest samples agree within 2× (the shared
  * [[Bench.sample]] loop, at most 3 samples), and the min is reported; a
  * query that fails or times out is listed under `"failed"` instead.
  * Geometry-capped operators run at their documented ×10 conf
  * (ann.planes +log2(f), ann.centroidMod ×f), identical at both core
  * counts.
  *
  * Usage: SPARK_GRAFT_CPUS=8|32 runMain graft.CoreScale <outJson> [q,...]
  */
object CoreScale {
  private val Factor = 10

  /** Documented scale-path conf per query at ×10 (the ScaleStress
    * bigConf rule), applied identically at every core count. */
  private def bigConf(q: String): Map[String, String] = q match {
    case "embed_dedup_clusters" => Map("spark.graft.ann.planes" -> "12")
    case "ann_ivf_kmeans" | "dedup_semantic" =>
      Map("spark.graft.ann.centroidMod" -> (32L * Factor).toString)
    case _ => Map.empty
  }

  private val DefaultQueries = Seq(
    "graph_pagerank", "graph_triangles", "graph_local_cc",
    "graph_bfs_levels", "graph_bfs_converged",
    "dedup_clusters", "dedup_semantic", "embed_dedup_clusters",
    "dedup_minhash_lsh", "dedup_recall_eval", "dedup_containment",
    "sql_q2_mincost", "ann_ivf_kmeans", "tfidf_doc_sim")

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("SCALE_r19_cores.json")
    val queries = args.lift(1)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultQueries)
    val cpus = GraftConf.cpuSpec(32)._2
    // data-sized, NOT core-sized: identical at both core counts
    val spark = GraftSession.local(cpus,
      "spark.sql.shuffle.partitions" -> (32 * Factor).toString)
    val big = ScaleStress.synthesize(spark, "/root/testdata/sf0.1", Factor)

    val (samples, failed) = Bench.sample(queries, maxRuns = 3, Double.PositiveInfinity) { name =>
      spark.catalog.clearCache()
      val overrides = bigConf(name)
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      try ops.GuardOps.timedRun(spark, s"corescale-$name", 600000L) {
        SparkEntry.queries(name)(spark, big).count()
      } finally overrides.keys.foreach(spark.conf.unset)
    }

    import Bench.{jsonStrings, r3}
    val qs = samples.map { case (k, v) =>
      "\"" + k + "\":{\"min\":" + r3(v.min) + ",\"samples\":[" +
        v.map(r3).mkString(",") + "]}"
    }.mkString("{", ",", "}")
    val line = s"""{"cpus":$cpus,"factor":$Factor,"shufflePartitions":${32 * Factor},"dir":"$big","queries":$qs,"failed":${jsonStrings(failed)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      line.getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
