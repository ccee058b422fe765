package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation}
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

  /** `rows` of (l_orderkey, l_partkey, l_suppkey), `None` for a null, as
    * the `lineitem.parquet` of a fresh sf dir. */
  private def withLineitem[T](rows: Seq[(Option[Long], Option[Long], Option[Long])])(
      body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lineitem").toFile
    try {
      spark.createDataFrame(rows).toDF("l_orderkey", "l_partkey", "l_suppkey")
        .coalesce(1).write.parquet(s"${dir.getPath}/lineitem.parquet")
      body(dir.getPath)
    } finally new scala.reflect.io.Directory(dir).deleteRecursively()
  }

  /** A path graph: part i links to suppliers i-1 and i (those below
    * `suppliers`), so BFS from part 0 reaches part i at hop 2i and
    * supplier i at 2i+1. */
  private def withPathGraph[T](parts: Int, suppliers: Int)(body: String => T): T =
    withLineitem(for (i <- 0 until parts; s <- Seq(i - 1, i) if s >= 0 && s < suppliers)
      yield (Some(i.toLong), Some(i.toLong), Some(s.toLong)))(body)

  /** Fixpoint jobs by role (`round`, `fallback`, `local`) run inside
    * `body`, counted once the listener bus has delivered every job start. */
  private def fixpointJobs[T](body: => T): (Map[String, Int], scala.util.Try[T]) = {
    val sc = spark.sparkContext
    val roles = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        if (prop("graft.test.marker").isDefined) markerSeen.countDown()
        else prop(ops.Fixpoint.JobKey).foreach(
          roles.computeIfAbsent(_, _ => new AtomicInteger(0)).incrementAndGet())
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
    import scala.jdk.CollectionConverters._
    (roles.asScala.map { case (k, v) => k -> v.get }.toMap.withDefaultValue(0), result)
  }

  /** Connected components of a path graph 0 — 1 — … — (n−1) plus one
    * isolated node n at a driver budget of `localRows` pair rows, as
    * (doc_id, label) pairs. */
  private def chainComponents(n: Int, localRows: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    val pairs = (0L until n - 1L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    ops.DedupOps.connectedComponents(spark.range(n + 1L).toDF("doc_id"), pairs, localRows)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
  }

  test("connectedComponents finishes a graph within the budget on the driver: no round, one local job") {
    val (jobs, labels) = fixpointJobs(chainComponents(10, ops.Fixpoint.localFinishRows))
    assert(labels.get === (0L until 10L).map(_ -> 0L) :+ (10L -> 10L))
    assert(jobs("round") === 0 && jobs("local") === 1, jobs.toString)
  }

  test("connectedComponents runs the rounds on budget + 1 pairs, and on any graph at budget 0") {
    // 9 pairs over budget 8 (each round is several jobs: its joins'
    // stages run as jobs under adaptive execution)
    val (jobs, labels) = fixpointJobs(chainComponents(10, 8))
    assert(labels.get === (0L until 10L).map(_ -> 0L) :+ (10L -> 10L))
    assert(jobs("round") > 0 && jobs("local") === 0, jobs.toString)
    val (forced, same) = fixpointJobs(chainComponents(10, 0))
    assert(same.get === labels.get)
    assert(forced("round") > 0 && forced("local") === 0, forced.toString)
  }

  test("the driver-local finish allocates at most LocalFinishBytesPerRow of driver heap a pair row") {
    import scala.jdk.CollectionConverters._
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    // the driver's share of the finish: this thread (the packed collect,
    // the kernel, its local relation) and the threads that deserialize
    // task results
    def driverThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t == Thread.currentThread || t.getName.startsWith("task-result-getter"))
      .map(_.getId)
    // a matching (2i, 2i+1) brings two fresh ids a row, the most a row
    // can: two label rows for connected components, two nodes of degree
    // one for triangles and PageRank
    def allocatedFor(n: Long)(finish: ops.Fixpoint.Packed => DataFrame): Long = {
      val pairs = spark.range(n).select((col("id") * 2).as("a"), (col("id") * 2 + 1).as("b"))
      val before = driverThreads.map(id => id -> mx.getThreadAllocatedBytes(id)).toMap
      finish(ops.Fixpoint.collectLocal(pairs))
      driverThreads.map(id => mx.getThreadAllocatedBytes(id) - before.getOrElse(id, 0L)).sum
    }
    val kernels = Seq[(String, ops.Fixpoint.Packed => DataFrame)](
      "connected components" -> (ops.DedupOps.minRootLabels(spark, _)),
      "triangles" -> (ops.GraphOps.localTriangles(spark, _)),
      "pagerank" -> (ops.GraphOps.localPagerank(spark, _)))
    val (small, large) = (20000L, 100000L)
    val perRow = kernels.map { case (name, finish) =>
      allocatedFor(small)(finish) // warm-up: JIT and the result threads
      // the slope cancels the fixed cost of planning and the collect job
      val slope = (allocatedFor(large)(finish) - allocatedFor(small)(finish)).toDouble / (large - small)
      info(f"$name: $slope%.0f B allocated an input row")
      name -> slope
    }
    assert(perRow.forall { case (_, b) => b > 0 && b <= ops.Fixpoint.LocalFinishBytesPerRow },
      perRow.toString)
  }

  /** Rows of `df` with each double as its raw bits, and the schema. */
  private def bits(df: DataFrame) = (df.schema, df.collect().toSeq.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v         => v
  }))

  test("graph_triangles and graph_pagerank give the same rows, bit for bit, on the driver and distributed") {
    val rnd = new scala.util.Random(14)
    // random baskets (orders of 1-6 parts, a supplier each) with a
    // (pk, null) and a (null, sk) row: the distributed PageRank counts a
    // null end in the other end's out-degree
    def randomLineitem(orders: Int, parts: Int, suppliers: Int) =
      (for (o <- 0 until orders; _ <- 0 until 1 + rnd.nextInt(6))
        yield (Some(o.toLong), Some(rnd.nextInt(parts).toLong), Some(rnd.nextInt(suppliers).toLong))) ++
        Seq((Some(0L), Some(0L), None), (Some(1L), None, Some(1L)))
    val kernels = Seq[(String, (String, Int) => DataFrame)](
      "graph_triangles" -> (ops.GraphOps.graphTriangles(spark, _, _)),
      "graph_pagerank" -> (ops.GraphOps.graphPagerank(spark, _, _)))
    def check(dir: String): Unit = for ((name, kernel) <- kernels) {
      val (localJobs, local) = fixpointJobs(bits(kernel(dir, ops.Fixpoint.localFinishRows)))
      val (distJobs, dist) = fixpointJobs(bits(kernel(dir, 0)))
      assert(local.get === dist.get, s"$name on $dir")
      assert(localJobs("local") === 1 && distJobs("local") === 0, s"$name: $localJobs / $distJobs")
    }
    check(sf)
    for ((orders, parts, suppliers) <- Seq((4, 6, 2), (60, 40, 12), (200, 120, 30)))
      withLineitem(randomLineitem(orders, parts, suppliers))(check)
  }

  test("a loop that never stops progressing throws after exactly the cap's round jobs") {
    val frame = spark.range(3).toDF("id") // one job per checkpoint: no shuffle
    val (jobs, result) = fixpointJobs {
      ops.Fixpoint.run("neverConverges", frame) { (df, _) =>
        ops.Fixpoint.Round(df, lit(true), cp => cp)
      }
    }
    assert(jobs("round") === ops.Fixpoint.MaxRounds, "one round job per round, up to the cap")
    val e = result.failed.get
    assert(e.isInstanceOf[IllegalStateException], e.toString)
    assert(e.getMessage.contains("neverConverges") &&
      e.getMessage.contains(s"${ops.Fixpoint.MaxRounds} rounds"), e.getMessage)
  }

  test("a loop stops after its first round without progress") {
    // each round drops the zeros and decrements the rest: {0..3} reaches
    // {0} in 3 rounds, and the third is the first with no positive id
    val (jobs, result) = fixpointJobs {
      ops.Fixpoint.run("countdown", spark.range(4).toDF("id")) { (df, _) =>
        ops.Fixpoint.Round(df.filter(col("id") > 0).select((col("id") - 1).as("id")),
          col("id") > 0, cp => cp)
      }
    }
    assert(jobs("round") === 3)
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
