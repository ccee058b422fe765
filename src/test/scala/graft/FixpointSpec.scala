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
}
