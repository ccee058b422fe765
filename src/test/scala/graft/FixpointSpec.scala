package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** Pins for the r19 fixpoint-loop optimization: the per-round convergence
  * probe (changed-label count / frontier-row count) rides the round's
  * checkpoint action as an observed metric instead of running as a second
  * job. Two load-bearing assumptions are tested:
  *
  *  1. a `checkpoint`/`localCheckpoint` action COMPLETES observations
  *     registered on the checkpointed frame (Spark runs it through the
  *     same withAction/listener path as collect/count) — if a Spark
  *     upgrade ever changes that, production would silently fall back to
  *     the pre-r19 extra job per round, and this test fails loudly;
  *  2. the bounded-await reader never hangs and uses the caller's
  *     fallback when the observation cannot complete.
  *
  * Result-equivalence of the loops themselves is covered elsewhere
  * (PropertySpec's connectedComponents-vs-BFS reference, the registry
  * oracles for the graph/dedup queries).
  */
class FixpointSpec extends SparkSpec {

  test("observedLong reads the metric off a localCheckpoint action without the fallback job") {
    val obs = Observation()
    val df = spark.range(100).toDF("id")
      .observe(obs, count(when(col("id") % 2 === 0, lit(1))).as("c"))
    val cp = ops.DedupOps.eagerCheckpoint(df)
    var fellBack = false
    val v = ops.DedupOps.observedLong(obs, "c") { fellBack = true; -1L }
    assert(v === 50L, "observed metric must equal the even-id count")
    assert(!fellBack, "checkpoint action must complete the observation (no fallback)")
    assert(cp.count() === 100L) // the observed frame is data-identical
  }

  test("observedLong is hang-proof: an observation that never completes falls back") {
    val obs = Observation()
    // attach the observation but never run an action on the observed frame
    spark.range(10).toDF("id").observe(obs, count(lit(1)).as("c"))
    val v = ops.DedupOps.observedLong(obs, "c") { 42L }
    assert(v === 42L, "unresolved observation must route to the fallback")
  }

  test("observedLong falls back on a mis-keyed metric instead of throwing") {
    val obs = Observation()
    val df = spark.range(10).toDF("id").observe(obs, count(lit(1)).as("c"))
    ops.DedupOps.eagerCheckpoint(df)
    val v = ops.DedupOps.observedLong(obs, "not_c") { 7L }
    assert(v === 7L, "a completed observation without the key must route to the fallback")
  }

  test("observedLong counts zero-row rounds as zero, not as a fallback") {
    val obs = Observation()
    val df = spark.range(10).toDF("id").filter(col("id") < 0) // empty
      .observe(obs, count(lit(1)).as("c"))
    ops.DedupOps.eagerCheckpoint(df)
    var fellBack = false
    val v = ops.DedupOps.observedLong(obs, "c") { fellBack = true; -1L }
    assert(v === 0L && !fellBack,
      "empty round must observe 0 (the CC/BFS loops terminate on it)")
  }

  /** A path graph as a two-column `lineitem.parquet` in a fresh sf dir:
    * part i links to suppliers i-1 and i (those below `suppliers`), so
    * BFS from part 0 reaches part i at hop 2i and supplier i at 2i+1. */
  private def withPathGraph[T](parts: Int, suppliers: Int)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bfs_path").toFile
    try {
      val rows = for (i <- 0 until parts; s <- Seq(i - 1, i) if s >= 0 && s < suppliers)
        yield (i.toLong, s.toLong)
      spark.createDataFrame(rows).toDF("l_partkey", "l_suppkey")
        .coalesce(1).write.parquet(s"${dir.getPath}/lineitem.parquet")
      body(dir.getPath)
    } finally new scala.reflect.io.Directory(dir).deleteRecursively()
  }

  test("graph_bfs_converged answers at eccentricity 50 and throws one hop past its cap") {
    // 26 parts, 25 suppliers: part 25 is the farthest node, at hop 50
    val at50 = withPathGraph(26, 25) { dir =>
      ops.GraphOps.graphBfsConverged(spark, dir).collect().map(_.getInt(1)).toSeq
    }
    assert(at50.size === 51 && at50.max === 50 && at50.sorted === (0 to 50),
      "every node of a 50-hop path must get its distance")
    // one more supplier puts a node at hop 51: the capped table would be
    // truncated, so the builder must throw instead of answering
    val e = intercept[IllegalStateException] {
      withPathGraph(26, 26)(dir => ops.GraphOps.graphBfsConverged(spark, dir))
    }
    assert(e.getMessage.contains("50 rounds"))
  }
}
