package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** Pins for [[ops.Fixpoint]], the driver of the fixpoint loops: the
  * per-round progress count (changed-label count / frontier-row count)
  * rides the round's checkpoint action as an observed metric instead of
  * running as a second job, and the loop fails loudly at its round cap.
  * Two load-bearing assumptions of the fused count are tested:
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
    val cp = ops.Fixpoint.eagerCheckpoint(df)
    var fellBack = false
    val v = ops.Fixpoint.observedLong(obs, "c") { fellBack = true; -1L }
    assert(v === 50L, "observed metric must equal the even-id count")
    assert(!fellBack, "checkpoint action must complete the observation (no fallback)")
    assert(cp.count() === 100L) // the observed frame is data-identical
  }

  test("observedLong is hang-proof: an observation that never completes falls back") {
    val obs = Observation()
    // attach the observation but never run an action on the observed frame
    spark.range(10).toDF("id").observe(obs, count(lit(1)).as("c"))
    val v = ops.Fixpoint.observedLong(obs, "c") { 42L }
    assert(v === 42L, "unresolved observation must route to the fallback")
  }

  test("observedLong falls back on a mis-keyed metric instead of throwing") {
    val obs = Observation()
    val df = spark.range(10).toDF("id").observe(obs, count(lit(1)).as("c"))
    ops.Fixpoint.eagerCheckpoint(df)
    val v = ops.Fixpoint.observedLong(obs, "not_c") { 7L }
    assert(v === 7L, "a completed observation without the key must route to the fallback")
  }

  test("observedLong counts zero-row rounds as zero, not as a fallback") {
    val obs = Observation()
    val df = spark.range(10).toDF("id").filter(col("id") < 0) // empty
      .observe(obs, count(lit(1)).as("c"))
    ops.Fixpoint.eagerCheckpoint(df)
    var fellBack = false
    val v = ops.Fixpoint.observedLong(obs, "c") { fellBack = true; -1L }
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

  /** Round jobs (tagged `round` by the driver) run inside `body`,
    * counted once the listener bus has delivered every job start. */
  private def roundJobs[T](body: => T): (Int, scala.util.Try[T]) = {
    val sc = spark.sparkContext
    val rounds = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        if (prop("graft.test.marker").isDefined) markerSeen.countDown()
        else if (prop(ops.Fixpoint.JobKey).contains("round")) rounds.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    val result = try {
      val r = scala.util.Try(body)
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(markerSeen.await(10, TimeUnit.SECONDS), "marker job never reached the listener")
      r
    } finally sc.removeSparkListener(listener)
    (rounds.get, result)
  }

  test("a loop that never stops progressing throws after exactly the cap's round jobs") {
    val frame = spark.range(3).toDF("id") // one job per checkpoint: no shuffle
    val (jobs, result) = roundJobs {
      ops.Fixpoint.run("neverConverges", frame) { (df, _) =>
        ops.Fixpoint.Round(df, lit(true), cp => cp)
      }
    }
    assert(jobs === ops.Fixpoint.MaxRounds, "one round job per round, up to the cap")
    val e = result.failed.get
    assert(e.isInstanceOf[IllegalStateException], e.toString)
    assert(e.getMessage.contains("neverConverges") &&
      e.getMessage.contains(s"${ops.Fixpoint.MaxRounds} rounds"), e.getMessage)
  }

  test("a loop stops after its first round without progress") {
    // each round drops the zeros and decrements the rest: {0..3} reaches
    // {0} in 3 rounds, and the third is the first with no positive id
    val (jobs, result) = roundJobs {
      ops.Fixpoint.run("countdown", spark.range(4).toDF("id")) { (df, _) =>
        ops.Fixpoint.Round(df.filter(col("id") > 0).select((col("id") - 1).as("id")),
          col("id") > 0, cp => cp)
      }
    }
    assert(jobs === 3)
    assert(result.get.collect().map(_.getLong(0)).toSeq === Seq(0L))
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

  test("bfs(3) drains a small graph and answers the hop <= 3 prefix of a long one") {
    // 2 parts, 1 supplier: nodes at hops 0, 1, 2, so the frontier drains
    val small = withPathGraph(2, 1) { dir =>
      ops.GraphOps.bfs(spark, dir, 3).collect().map(_.getInt(1)).toSeq
    }
    assert(small === Seq(0, 1, 2))
    // eccentricity 50: the depth bound cuts the walk at hop 3, no throw
    val long = withPathGraph(26, 25) { dir =>
      ops.GraphOps.bfs(spark, dir, 3).collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
    }
    assert(long === Seq(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
  }
}
