package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.util.QueryExecutionListener

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.ops.{FileOps, GuardOps}

/** One benchmark run in a fresh JVM: set-up, a cold pass that writes every
  * query's full result (the files the correctness check reads), then a fixed
  * number of warm passes (closed loop, one client submitting one query at a
  * time) whose action is a row count. With `--trace 1` the [[Tracer]] is
  * attached to every second warm pass, so traced and untraced passes
  * alternate and the run reports its own tracing overhead.
  *
  * Writes one JSON result (samples, pass times, layer metrics) for
  * `perfbench/run.py`, which checks the results and prints the metrics. */
object Harness {
  private final case class Sample(q: String, pass: Int, status: String, wallS: Double,
                                  rows: Long, error: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val timeoutMs = a("timeout-ms").toLong
    val reps = a("setup-reps").toInt
    val inject = a.get("inject").contains("1")

    val (cpuStr, cpus) = graft.GraftConf.cpuSpec(4)
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpuStr]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.files.root", s"file:$work/files")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val launchedMs = a("launched-ms").toLong
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    // seconds since launch at the end of each run phase, for sizing the run
    val timeline = mutable.LinkedHashMap[String, Double]()
    def mark(phase: String): Unit = timeline(phase) = (System.currentTimeMillis() - launchedMs) / 1e3
    mark("session")

    // A fixed job independent of the engine's code: its wall time tracks
    // the host, not the change under test. Two warm-up runs, then the
    // fastest of four, which a sustained load slows and a stray pause does
    // not.
    def canary(): Double = (1 to 6).map(_ => timed(
      spark.range(0L, 10000000L, 1L, cpus).selectExpr("sum(hash(id))").collect())).drop(2).min
    val os = ManagementFactory.getOperatingSystemMXBean

    // Fixture or corpus build, repeated into fresh directories so setup_s is
    // a median; the last build is the one the workload reads.
    val base = a("data")
    var dataDir = base
    def materialize(dir: String): Unit = {
      spark.conf.set("spark.graft.files.root", s"file:$dir")
      FileOps.materializeDocFiles(spark, base)
      FileOps.csvRoundtrip(spark, base)
      FileOps.materializeImageFiles(spark, base)
    }
    def synthesize(dir: String): Unit = {
      System.setProperty("java.io.tmpdir", dir)
      dataDir = graft.ScaleStress.synthesize(spark, base, 2, Some(Workloads.fixpointTables))
    }
    val build: Option[String => Unit] = workload match {
      case "mapreduce_files" => Some(materialize)
      case "fixpoint_x2"     => Some(synthesize)
      case _                 => None
    }
    val setupTimes = build.toSeq.flatMap { f =>
      (1 to reps).map { i =>
        val dir = s"$work/setup$i"
        Files.createDirectories(Paths.get(dir))
        timed(f(dir))
      }
    }
    val setupS = sessionS + (if (setupTimes.isEmpty) 0.0 else median(setupTimes))
    mark("setup")

    val registry = graft.SparkEntry.queries
    val names = a.get("queries").fold(Workloads.queries(workload))(_.split(",").toSeq)
    val order = new scala.util.Random(seed).shuffle(names)
    val writes = workload == "mapreduce_files"
    val injected: Map[String, (SparkSession, String) => DataFrame] =
      if (!inject) Map.empty else Map(
        "selftest_throws" -> ((_, _) => throw new IllegalStateException("injected failure")),
        "selftest_sleeps" -> ((s, _) => s.range(1).toDF().filter(
          udf((x: Long) => { Thread.sleep(600000L); x }).apply(col("id")) >= 0)))

    val clock = new Clock
    val samples = mutable.ArrayBuffer[Sample]()
    val passWall = mutable.ArrayBuffer[(Int, Double, Boolean)]() // pass, wall, traced
    val layers = mutable.Map[String, mutable.Map[String, Double]]() // qid -> layer values
    val coldEgress = mutable.Map[String, Double]().withDefaultValue(0.0)
    var tracer: Option[Tracer] = None
    val writeQes = new ConcurrentHashMap[String, QueryExecution]()
    val sc = spark.sparkContext
    val runSpan = 1L << 40

    def runQuery(q: String, pass: Int, passSpan: Long): Unit = {
      spark.catalog.clearCache()
      val qid = s"$pass/$q"
      val builder = injected.getOrElse(q, registry(q))
      val t = tracer
      val ql = mutable.Map[String, Double]().withDefaultValue(0.0)
      val qSpan = t.fold(0L)(_.newId())
      val out = s"$work/out/$q"
      // every query's full result is written in the cold pass, and in every
      // pass on the egress workload
      val write = writes || pass == 0
      var inner = 0.0
      var rows = -1L
      var qe: QueryExecution = null
      var buildQe: QueryExecution = null
      var (bSpan, xSpan) = (0L, 0L)
      var error = ""
      val t0 = clock.nowUs()
      val status = try {
        GuardOps.runBounded(spark, s"perfbench-$q", timeoutMs) {
          def phase(name: String): Long = t.fold(0L) { tr =>
            val id = tr.newId()
            sc.setLocalProperty(Tracer.QidKey, qid)
            sc.setLocalProperty(Tracer.SpanKey, id.toString)
            sc.setLocalProperty(Tracer.PhaseKey, name)
            id
          }
          val i0 = System.nanoTime()
          bSpan = phase("build")
          val df = t.fold(builder(spark, dataDir))(_.span(qSpan, qid, "build", bSpan)(builder(spark, dataDir)))
          val i1 = System.nanoTime()
          if (t.isDefined) buildQe = df.queryExecution
          val xName = if (write) "write" else "execute"
          xSpan = phase(xName)
          def act(): Unit =
            if (write) df.write.mode("overwrite").parquet(out)
            else {
              val agg = df.groupBy().count()
              rows = agg.collect()(0).getLong(0)
              qe = agg.queryExecution
            }
          t.fold(act())(_.span(qSpan, qid, xName, xSpan)(act()))
          val i2 = System.nanoTime()
          inner = (i2 - i0) / 1e9
          ql("ops.build_s") = (i1 - i0) / 1e9
          ql("exec.action_s") = (i2 - i1) / 1e9
        }
        "ok"
      } catch {
        case _: TimeoutException => "timeout"
        case e: Throwable        => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300); "error"
      }
      val t1 = clock.nowUs()
      val wall = (t1 - t0) / 1e6
      samples += Sample(q, pass, status, wall, rows, error)
      if (pass == 0 && status == "ok") {
        val files = listFiles(out).filter(_.getFileName.toString.startsWith("part-"))
        coldEgress("egress.write_s") += ql("exec.action_s")
        coldEgress("egress.files") += files.size
        coldEgress("egress.mb") += files.map(Files.size(_)).sum / 1e6
      }
      t.foreach { tr =>
        tr.add(Span(qSpan, passSpan, qid, "query", t0, t1))
        if (status == "ok") {
          ql("guard.overhead_s") = wall - inner
          if (write) {
            val deadline = System.nanoTime() + 2000000000L
            while (!writeQes.containsKey(out) && System.nanoTime() < deadline) Thread.sleep(5)
            qe = writeQes.remove(out)
          }
          // Catalyst phases: the builder's frame is analyzed while it is
          // built; the action's plan is analyzed, optimized and planned
          // inside the action.
          def phases(x: QueryExecution, span: Long, names: Seq[(String, String)]): Unit =
            names.foreach { case (p, n) =>
              x.tracker.phases.get(p).foreach { s =>
                ql(s"plans.${n}_s") += (s.endTimeMs - s.startTimeMs) / 1e3
                tr.add(Span(tr.newId(), span, qid, n, s.startTimeMs * 1000, s.endTimeMs * 1000))
              }
            }
          if (buildQe != null) phases(buildQe, bSpan, Seq("analysis" -> "analyze"))
          if (qe != null) {
            phases(qe, xSpan,
              Seq("analysis" -> "analyze", "optimization" -> "optimize", "planning" -> "physical"))
            PlanShape.counts(qe.executedPlan).foreach { case (k, n) => ql(s"plans.$k") = n }
          }
          val storage = sc.getRDDStorageInfo
          val persistent = sc.getPersistentRDDs
          ql("cache.mb") = storage.map(r => r.memSize + r.diskSize).sum / 1e6
          ql("checkpoint.mb") = storage.filter(r =>
            persistent.get(r.id).exists(_.isCheckpointed)).map(r => r.memSize + r.diskSize).sum / 1e6
        }
        layers(qid) = ql
      }
    }

    def runPass(pass: Int, queries: Seq[String]): Unit = {
      val passSpan = tracer.fold(0L)(_.newId())
      val t0 = clock.nowUs()
      queries.foreach(runQuery(_, pass, passSpan))
      val t1 = clock.nowUs()
      tracer.foreach(_.add(Span(passSpan, runSpan, s"pass$pass", "pass", t0, t1)))
      passWall += ((pass, (t1 - t0) / 1e6, tracer.isDefined))
    }

    val jitBean = ManagementFactory.getCompilationMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
    val runStart = clock.nowUs()
    val jit0 = jitBean.getTotalCompilationTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    runPass(0, order)
    mark("cold")
    // Heap retained by the session after one pass over every query. Taken
    // here, not after the window, because Spark keeps per-execution
    // metadata, so the heap would otherwise grow with the number of passes
    // the window happened to fit. Spark's cleaner drops the blocks of the
    // checkpoints a collection freed on its own thread, and on a slow host
    // it can take more than a second, so collect until the heap stops
    // shrinking (at most 5 s).
    def heapAfterGc(): Double = {
      System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var heapMb = heapAfterGc()
    var settled = 0
    var polls = 0
    while (settled < 2 && polls < 20) {
      Thread.sleep(250)
      val now = heapAfterGc()
      settled = if (heapMb - now < 1.0) settled + 1 else 0
      heapMb = math.min(heapMb, now)
      polls += 1
    }
    val coldJitS = (jitBean.getTotalCompilationTime - jit0) / 1e3
    val coldCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0

    // The canary brackets the warm window, where the timings are taken.
    val loadStart = os.getSystemLoadAverage
    val canaryStart = canary()

    // The window is a fixed number of passes, the ones that fill `seconds`
    // at the workload's seconds per pass, so both commits of a comparison
    // do the same work: a time-boxed window would give the faster commit
    // more passes and so a warmer JIT.
    val passes = math.max(if (trace) 3 else 2,
      math.round(seconds / Workloads.secondsPerPass(workload)).toInt)
    // A traced run traces every second warm pass, so traced and untraced
    // passes sit at the same point of the JIT warm-up and their ratio is the
    // tracing overhead alone; it runs at least three passes, so the first
    // traced pass has an untraced one on each side.
    val tr = new Tracer(clock)
    val writeListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case c: InsertIntoHadoopFsRelationCommand =>
            writeQes.put(c.outputPath.toString.stripPrefix("file:"), qe)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val tracedPasses = mutable.ArrayBuffer[Int]()
    var gcTracedMs = 0L
    for (pass <- 1 to passes) {
      // injected self-test queries run in the first warm pass only, so the
      // other warm passes stay complete and comparable
      val queries = if (pass == 1) order ++ injected.keys.toSeq.sorted else order
      if (trace && pass % 2 == 0) {
        sc.addSparkListener(tr)
        spark.listenerManager.register(writeListener)
        tracer = Some(tr)
        val gc0 = gcMs
        runPass(pass, queries)
        gcTracedMs += gcMs - gc0
        tr.flush(sc)
        tracer = None
        spark.listenerManager.unregister(writeListener)
        sc.removeSparkListener(tr)
        tracedPasses += pass
      } else runPass(pass, queries)
    }
    mark("window")
    val canaryEnd = canary()
    val loadEnd = os.getSystemLoadAverage

    val lay = mutable.LinkedHashMap[String, Double]()
    if (trace) {
      val n = tracedPasses.size.toDouble
      val qids = for (p <- tracedPasses; q <- order) yield s"$p/$q"
      def sumL(k: String): Double = qids.flatMap(layers.get).map(_(k)).sum / n
      def sumC(f: Counters => Double): Double = qids.map(q => f(tr.countersOf(q))).sum / n
      val queryWall = sumL("ops.build_s") + sumL("exec.action_s")
      lay ++= Seq(
        "ops.build_s" -> sumL("ops.build_s"),
        "ops.build_jobs" -> sumC(_.buildJobs.toDouble),
        "plans.analyze_s" -> sumL("plans.analyze_s"),
        "plans.optimize_s" -> sumL("plans.optimize_s"),
        "plans.physical_s" -> sumL("plans.physical_s"))
      PlanShape.keys.foreach(k => lay(s"plans.$k") = sumL(s"plans.$k"))
      lay ++= Seq(
        "codegen.compiles" -> coldCompiles.toDouble,
        "exec.jobs" -> sumC(_.jobs.toDouble),
        "exec.stages" -> sumC(_.stages.toDouble),
        "exec.stages_skipped" -> sumC(_.stagesSkipped.toDouble),
        "exec.tasks" -> sumC(_.tasks.toDouble),
        "exec.run_s" -> sumC(_.runMs / 1e3),
        "exec.cpu_s" -> sumC(_.cpuNs / 1e9),
        "exec.gc_s" -> sumC(_.gcMs / 1e3),
        "exec.sched_delay_s" -> sumC(_.schedDelayMs / 1e3),
        "exec.busy_cores" -> (if (queryWall > 0) sumC(_.runMs / 1e3) / queryWall else 0.0),
        "exec.task_skew" -> {
          val med = sumC(_.skewMedian.toDouble)
          if (med > 0) sumC(_.skewMax.toDouble) / med else 1.0
        },
        "shuffle.write_mb" -> sumC(_.shuffleWrite / 1e6),
        "shuffle.read_mb" -> sumC(_.shuffleRead / 1e6),
        "shuffle.spill_mb" -> sumC(_.spill / 1e6),
        "scan.input_mb" -> sumC(_.inputBytes / 1e6),
        "scan.input_rows" -> sumC(_.inputRows.toDouble),
        "cache.mb_peak" -> qids.flatMap(layers.get).map(_("cache.mb")).foldLeft(0.0)(math.max),
        "checkpoint.mb" -> sumL("checkpoint.mb"),
        "guard.overhead_s" -> sumL("guard.overhead_s"),
        "jvm.gc_s" -> gcTracedMs / 1e3 / n,
        "jvm.jit_s" -> coldJitS)
      tr.add(Span(runSpan, 0L, "run", "run", runStart, clock.nowUs()))
      val tracedSpans = tr.allSpans.filter { s =>
        s.name == "run" || tracedPasses.exists(p => s.qid.startsWith(s"$p/") || s.qid == s"pass$p")
      }
      val self = Tracer.selfTimes(tracedSpans).withDefaultValue(0.0)
      Seq("pass", "query", "build", "analyze", "optimize", "physical", "execute", "job", "stage")
        .foreach { k =>
          // the egress workload's action span is "write"
          lay(s"self.${k}_s") = (self(k) + (if (k == "execute") self("write") else 0.0)) / n
        }
      // each traced pass against the untraced passes beside it, which
      // cancels the warm-up trend across the window
      val wall = passWall.map { case (p, w, _) => p -> w }.toMap
      lay("trace.overhead") = median(tracedPasses.toSeq.map { p =>
        wall(p) / median(Seq(p - 1, p + 1).filter(q => q >= 1 && wall.contains(q)).map(wall))
      })
      Files.writeString(Paths.get(a("spans")), toJson(tr.allSpans.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "qid" -> s.qid, "name" -> s.name,
          "start_us" -> s.startUs, "end_us" -> s.endUs)
      }))
    }
    lay ++= Seq(
      "guard.timeouts" -> samples.count(_.status == "timeout").toDouble,
      "egress.write_s" -> coldEgress("egress.write_s"),
      "egress.mb" -> coldEgress("egress.mb"),
      "egress.files" -> coldEgress("egress.files"),
      "setup.session_s" -> sessionS,
      "setup.fixture_s" -> median(setupTimes),
      "host.load_start" -> loadStart,
      "host.load_end" -> loadEnd,
      "host.canary_s" -> canaryStart,
      "host.canary_end_s" -> canaryEnd)

    mark("end")
    val result = Map(
      "workload" -> workload,
      "data_dir" -> dataDir,
      "order" -> order,
      "oracle" -> order.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "samples" -> samples.toSeq.map(s => Map("q" -> s.q, "pass" -> s.pass,
        "status" -> s.status, "wall_s" -> s.wallS, "rows" -> s.rows, "error" -> s.error)),
      "passes" -> passWall.toSeq.map { case (p, w, tr) =>
        Map("pass" -> p, "wall_s" -> w, "traced" -> tr) },
      "timeline" -> timeline.toMap,
      "setup_s" -> setupS,
      "setup_reps_s" -> setupTimes,
      "heap_retained_mb" -> heapMb,
      "layers" -> lay.toMap)
    Files.writeString(Paths.get(a("out")), toJson(result))
    spark.stop()
  }

  private def toJson(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  private def timed(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def listFiles(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else { val st = Files.list(p); try st.iterator().asScala.toList finally st.close() }
  }
}

/** Operator counts of a query's final physical plan, read through the
  * adaptive plan (final stages) and its subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  val keys = Seq("exchanges", "reused_exchanges", "sorts", "broadcasts", "codegen_stages",
    "cached_scans")

  def counts(plan: SparkPlan): Map[String, Int] = {
    val kinds = collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike   => "exchanges"
      case _: ReusedExchangeExec    => "reused_exchanges"
      case _: SortExec              => "sorts"
      case _: BroadcastExchangeLike => "broadcasts"
      case _: WholeStageCodegenExec => "codegen_stages"
      case _: InMemoryTableScanExec => "cached_scans"
    }
    keys.map(k => k -> kinds.count(_ == k)).toMap
  }
}
