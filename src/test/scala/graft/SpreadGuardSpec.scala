package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** Pins the r19 guard on the compact-source spread
  * ([[Tables.spreadCompactSource]]): at fixture scale (single-split
  * parquet) the round-robin repartition must still fire — it is what
  * keeps the shingle/signature CPU bulk off a single task — while a
  * source already wider than the session's parallelism must skip the
  * shuffle entirely (the 100 TB case: thousands of scan splits, where an
  * unconditional repartition would round-robin the raw corpus bytes for
  * nothing and cap parallelism at defaultParallelism). */
class SpreadGuardSpec extends SparkSpec {

  test("a single-partition source is spread to the session parallelism") {
    val single = spark.range(0, 1000, 1, 1).toDF("id")
    val spread = Tables.spreadCompactSource(single)
    assert(spread.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    assert(spread.queryExecution.executedPlan.toString
      .contains("RoundRobinPartitioning"), "compact source must round-robin spread")
  }

  test("a source wider than the session parallelism skips the shuffle") {
    val wide = spark.range(0, 1000, 1,
      spark.sparkContext.defaultParallelism + 3).toDF("id")
    val kept = Tables.spreadCompactSource(wide)
    assert(kept.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism + 3,
      "multi-split source must keep its scan parallelism")
    assert(!kept.queryExecution.executedPlan.toString.contains("Exchange"),
      "multi-split source must not be re-shuffled")
  }

  test("fixture-scale registry consumers still carry the spread (plan unchanged)") {
    // doc_shingle_sketch reads the single-split documents fixture: the
    // guard must leave the r18 plan shape intact at this scale
    val adaptiveWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q("doc_shingle_sketch").queryExecution.executedPlan.toString
      assert(plan.contains("RoundRobinPartitioning"),
        s"compact documents fixture lost its spread:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", adaptiveWas)
  }

  test("the guard runs no job, and a frame that needs a shuffle is rejected") {
    val sc = spark.sparkContext
    val single = spark.range(0, 1000, 1, 1).toDF("id")
    val wide = spark.range(0, 1000, 1, sc.defaultParallelism + 3).toDF("id")
    val docs = Tables.documents(spark, sf) // schema inference may run a job: outside the count
    val grouped = single.groupBy((col("id") % 7).as("k")).count()
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null))
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      intercept[IllegalArgumentException](Tables.spreadCompactSource(grouped))
      Seq(single, wide, docs).foreach(Tables.spreadCompactSource)
      // the bus delivers in order: once the marker job's start arrives,
      // every job the guard could have run has been counted
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(markerSeen.await(10, TimeUnit.SECONDS), "marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    assert(jobs.get === 0, s"the guard ran ${jobs.get} job(s)")
  }
}
