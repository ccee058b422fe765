package graft

import org.apache.spark.sql.internal.SQLConf
import org.json4s._

import graft.ops.GuardOps

/** [[Probe]] records, the [[Bench.sample]] loop's handling of failed runs,
  * and the settings every [[GraftSession]] carries. */
class ProbeSpec extends SparkSpec {
  private implicit val formats: Formats = DefaultFormats
  private lazy val probe = new Probe(spark)

  test("an ok record splits its wall time and carries stages and the plan") {
    val rec = probe.record("global_agg")(SparkEntry.queries("global_agg")(_, sf))
    assert((rec \ "status").extract[String] === "ok")
    val wall = (rec \ "wall_s").extract[Double]
    val phases = (rec \ "phases").extract[Map[String, Double]]
    assert(phases.keySet ===
      Set("build_s", "analyze_s", "optimize_s", "physical_s", "execute_s"))
    assert(phases.values.forall(_ >= 0.0))
    assert(phases.values.sum <= wall + 1e-9, s"phases $phases exceed wall $wall")
    assert((rec \ "jobs").extract[Int] >= 1)
    val stages = (rec \ "stage_metrics").extract[List[JObject]]
    assert(stages.nonEmpty && (rec \ "stages").extract[Int] === stages.size)
    assert((rec \ "tasks").extract[Int] >= stages.size)
    assert((rec \ "plan_shape" \ "exchanges").extract[Int] >= 1)
    assert((rec \ "plan").extract[String].nonEmpty)
  }

  test("a record sums the task result bytes the driver received: a local finish's packed edges") {
    val rec = probe.record("graph_triangles")(SparkEntry.queries("graph_triangles")(_, sf))
    assert((rec \ "fixpoint_local_jobs").extract[Int] === 1)
    // the packed collect sends 16 B an edge (two longs) on top of each
    // task's own metrics
    val nEdges = ops.GraphOps.graphTriangles(spark, sf).collect().head.getAs[Long]("n_edges")
    assert(nEdges > 0)
    val bytes = (rec \ "driver_result_bytes").extract[Long]
    assert(bytes >= 16 * nEdges, s"$bytes B for $nEdges edges")
  }

  test("a query that throws is an error record with no wall sample") {
    val rec = probe.record("boom")(_ => throw new IllegalStateException("boom"))
    assert((rec \ "status").extract[String] === "error")
    assert((rec \ "error").extract[String].contains("boom"))
    assert(rec \ "wall_s" === JNothing)
    assert(rec \ "phases" === JNothing)
  }

  test("a bounded run that overruns reports timeout") {
    val run = GuardOps.timedRun(spark, "probe-spec-slow", 300L)(Thread.sleep(30000))
    assert(run.status === "timeout" && !run.ok)
  }

  test("the sampling loop keeps failed runs out of the samples") {
    var runs = Map.empty[String, Int].withDefaultValue(0)
    val (samples, failed) = Bench.sample(Seq("fast", "broken", "flaky"), 5, 60.0) { n =>
      runs += n -> (runs(n) + 1)
      val status = if (n == "broken" || (n == "flaky" && runs(n) == 2)) "timeout" else "ok"
      GuardOps.Run(status, 0.001, None)
    }
    assert(samples === Seq("fast" -> Vector(0.001, 0.001)))
    assert(failed.toSet === Set("broken", "flaky"))
    assert(runs("broken") === 1, "a failed query is not run again")
  }

  test("the factory session carries the settings every oracle depends on") {
    val conf = spark.sessionState.conf
    assert(conf.getConf(SQLConf.SESSION_LOCAL_TIMEZONE) === "UTC")
    assert(conf.getConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG))
    assert(!conf.getConf(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED))
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(spark.sessionState.planner.extraPlanningStrategies
      .contains(graft.plans.TopKPerKeyStrategy), "graft extensions not installed")
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.numShufflePartitions === 4)
  }
}
