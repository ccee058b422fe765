package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Per-query profiler: runs registry queries once each, the way [[Bench]]
  * times them (cache cleared, `count()` under the [[ops.GuardOps]] bound),
  * and prints one JSON line per query:
  *
  *  - `status`: `ok`, `error` or `timeout`; only an `ok` record carries
  *    timings, a failed one carries `error` instead;
  *  - `wall_s` and its split into `build` (the registry builder, minus
  *    analysis), `analyze`, `optimize`, `physical` (planning of the
  *    timed action) and `execute` — the phases never sum past the wall;
  *  - `jobs`, `stages`, `tasks` and, per completed stage, executor run,
  *    CPU and GC time, shuffle read and write, and memory/disk spill;
  *  - `fixpoint_round_jobs`, `fixpoint_fallback_jobs` and
  *    `fixpoint_local_jobs`: the jobs among `jobs` that [[ops.Fixpoint]]
  *    ran as round checkpoints, as fallback counts after a missed
  *    observation, and as the collect of a driver-local finish — so a
  *    record shows which path a fixpoint took;
  *  - `driver_result_bytes`: the serialized task results the driver
  *    received over the query (the sum of task `resultSize`), e.g. what
  *    a driver-local finish pulled;
  *  - `plan_shape`: Exchange, ReusedExchange, Sort and WholeStageCodegen
  *    counts of the final plan (adaptive stages and subqueries included);
  *  - `plan`: that final executed plan.
  *
  * Usage:
  *   runMain graft.Probe <dir | synth:<dir>:<factor>> <q>[,<q>...] [k=v,...]
  * `synth:` (re)builds the [[ScaleStress.synthesize]] corpus and probes
  * it; `k=v` pairs are set on the session first (e.g.
  * `spark.sql.adaptive.enabled=false`). Naming a query twice gives a cold
  * and a warm record.
  */
object Probe {
  private val TimeoutMs = 600000L

  /** A JSON number rounded to the millisecond (3 decimals). */
  private[graft] def r3(v: Double): Double = math.round(v * 1000) / 1000.0

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Probe <dir | synth:<dir>:<factor>> <q>[,<q>...] [k=v,...]")
    val spark = GraftSession.local(GraftConf.cpuSpec(4)._2)
    val dir = args(0).split(":") match {
      case Array("synth", small, factor) => ScaleStress.synthesize(spark, small, factor.toInt)
      case _                             => args(0)
    }
    args.lift(2).toSeq.flatMap(_.split(",")).filter(_.contains("=")).foreach { kv =>
      val i = kv.indexOf('=')
      spark.conf.set(kv.take(i), kv.drop(i + 1))
    }
    val probe = new Probe(spark)
    for (q <- args(1).split(",").map(_.trim) if q.nonEmpty)
      println(compact(render(probe.record(q)(SparkEntry.queries(q)(_, dir)))))
    spark.stop()
  }
}

/** The listener and measurement behind [[Probe]]; one per session. */
class Probe(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Probe.r3
  private val sc = spark.sparkContext
  private val BarrierKey = "graft.probe.barrier"
  private val barriers = new AtomicLong(0L)
  private val barrierSeen = new AtomicLong(0L)
  private val barrierStages = mutable.Set[Int]()
  private var jobs = 0
  private val fixpointJobs = mutable.Map[String, Int]().withDefaultValue(0) // by role
  private val stages = mutable.ArrayBuffer[(Int, Long, JObject)]() // (tasks, result bytes, metrics)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      prop(BarrierKey) match {
        case Some(id) => barrierStages ++= e.stageIds; barrierSeen.set(id.toLong)
        case None     => jobs += 1; prop(ops.Fixpoint.JobKey).foreach(fixpointJobs(_) += 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val si = e.stageInfo
      if (!barrierStages(si.stageId)) {
        val m = si.taskMetrics
        def mb(bytes: Long) = r3(bytes / 1048576.0)
        stages += ((si.numTasks, m.resultSize,
          ("id" -> si.stageId) ~ ("name" -> si.name) ~ ("tasks" -> si.numTasks) ~
          ("run_s" -> r3(m.executorRunTime / 1e3)) ~ ("cpu_s" -> r3(m.executorCpuTime / 1e9)) ~
          ("gc_s" -> r3(m.jvmGCTime / 1e3)) ~
          ("shuffle_read_mb" -> mb(m.shuffleReadMetrics.totalBytesRead)) ~
          ("shuffle_write_mb" -> mb(m.shuffleWriteMetrics.bytesWritten)) ~
          ("spill_mem_mb" -> mb(m.memoryBytesSpilled)) ~
          ("spill_disk_mb" -> mb(m.diskBytesSpilled))))
      }
    }
  })

  // phases are truncated, not rounded, so their sum stays within the wall
  private def ms(v: Double): Double = math.floor(v * 1000) / 1000.0

  /** Waits until the listener has seen every event posted so far: a
    * marker job's start reaches it after all earlier events (the bus
    * delivers in order), and the marker itself is not counted. */
  private def drain(): Unit = {
    val id = barriers.incrementAndGet()
    sc.setLocalProperty(BarrierKey, id.toString)
    try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(BarrierKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (barrierSeen.get < id && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def record(name: String)(build: SparkSession => DataFrame): JObject = {
    spark.catalog.clearCache()
    drain()
    val (jobs0, stages0, fixpoint0) = synchronized((jobs, stages.size, fixpointJobs.toMap))
    var built, counted: QueryExecution = null
    var (buildS, actionS) = (0.0, 0.0)
    val run = ops.GuardOps.timedRun(spark, s"probe-$name", Probe.TimeoutMs) {
      val t0 = System.nanoTime()
      val df = build(spark)
      val t1 = System.nanoTime()
      val c = df.groupBy().count()
      c.collect()
      built = df.queryExecution
      counted = c.queryExecution
      buildS = (t1 - t0) / 1e9
      actionS = (System.nanoTime() - t1) / 1e9
    }
    val head = ("query" -> name) ~ ("status" -> run.status)
    if (!run.ok) head ~ ("error" -> run.failure.map(e =>
      s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    else {
      drain()
      val (nJobs, ran, fixpoint1) =
        synchronized((jobs - jobs0, stages.drop(stages0).toList, fixpointJobs.toMap))
      def fixpoint(role: String) = fixpoint1.getOrElse(role, 0) - fixpoint0.getOrElse(role, 0)
      def tracked(qe: QueryExecution, phase: String): Double =
        qe.tracker.phases.get(phase).fold(0.0)(s => (s.endTimeMs - s.startTimeMs) / 1e3)
      // the tracker's millisecond spans are clamped into the nanosecond
      // spans they ran inside, so the split never sums past the wall
      val analyzeBuild = math.min(tracked(built, "analysis"), buildS)
      var left = actionS
      val Seq(analyze, optimize, physical) = Seq("analysis", "optimization", "planning").map { p =>
        val s = math.min(tracked(counted, p), left); left -= s; s
      }
      val shape = collectWithSubqueries(counted.executedPlan) {
        case _: ShuffleExchangeLike   => "exchanges"
        case _: ReusedExchangeExec    => "reused_exchanges"
        case _: SortExec              => "sorts"
        case _: WholeStageCodegenExec => "codegen_stages"
      }
      head ~ ("wall_s" -> r3(run.seconds)) ~
        ("phases" -> ("build_s" -> ms(buildS - analyzeBuild)) ~
          ("analyze_s" -> ms(analyzeBuild + analyze)) ~ ("optimize_s" -> ms(optimize)) ~
          ("physical_s" -> ms(physical)) ~ ("execute_s" -> ms(left))) ~
        ("jobs" -> nJobs) ~ ("fixpoint_round_jobs" -> fixpoint("round")) ~
        ("fixpoint_fallback_jobs" -> fixpoint("fallback")) ~
        ("fixpoint_local_jobs" -> fixpoint("local")) ~
        ("driver_result_bytes" -> ran.map(_._2).sum) ~
        ("stages" -> ran.size) ~ ("tasks" -> ran.map(_._1).sum) ~
        ("stage_metrics" -> ran.map(_._3)) ~
        ("plan_shape" -> Seq("exchanges", "reused_exchanges", "sorts", "codegen_stages")
          .map(k => k -> shape.count(_ == k)).toMap) ~
        ("plan" -> counted.executedPlan.toString)
    }
  }
}
