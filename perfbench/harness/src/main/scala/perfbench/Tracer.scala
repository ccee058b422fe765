package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Every span of one query carries
  * the query's id (`qid`); `parent` is the span that caused it (0 = none). */
final case class Span(id: Long, parent: Long, qid: String, name: String,
                      startUs: Long, endUs: Long)

/** Span store plus the Spark listener that turns scheduler events into
  * spans and per-query counters.
  *
  * Jobs are attributed through two local properties the harness sets before
  * each layer call ([[Tracer.QidKey]], [[Tracer.SpanKey]]): Spark copies
  * local properties into every job it submits, including jobs submitted from
  * the bounded-action thread, so attribution does not depend on the
  * listener bus delivering events before the query returns. */
final class Tracer(clock: Clock) extends SparkListener {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.Map[Int, (String, Long, Long, Seq[Int])]() // qid, span, parent, stages
  private val stageOwner = mutable.Map[Int, (String, Long)]()           // stage -> qid, job span
  private val submitted = mutable.Set[Int]()
  private val counters = mutable.Map[String, Counters]()
  private val flushJobs = mutable.Set[Int]()
  @volatile private var flushed = false

  def newId(): Long = nextId.incrementAndGet()

  def add(s: Span): Unit = synchronized { spans += s }

  /** Records a harness-side span around `body` and returns its result. */
  def span[T](parent: Long, qid: String, name: String, id: Long = newId())(body: => T): T = {
    val t0 = clock.nowUs()
    try body finally add(Span(id, parent, qid, name, t0, clock.nowUs()))
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def countersOf(qid: String): Counters = synchronized(counters.getOrElse(qid, new Counters))

  /** Runs a marker job and waits until the listener bus has delivered its
    * end, and so every event before it, to this listener. */
  def flush(sc: SparkContext): Unit = {
    flushed = false
    sc.setLocalProperty(FlushKey, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FlushKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (!flushed && System.nanoTime() < deadline) Thread.sleep(5)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(FlushKey) != null)) flushJobs += e.jobId
    val qid = props.flatMap(p => Option(p.getProperty(QidKey))).orNull
    if (qid != null) {
      val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).fold(0L)(_.toLong)
      val id = newId()
      jobs(e.jobId) = (qid, id, parent, e.stageIds)
      e.stageIds.foreach(s => stageOwner(s) = (qid, id))
      val c = counters.getOrElseUpdate(qid, new Counters)
      c.jobs += 1
      if (props.exists(_.getProperty(PhaseKey) == "build")) c.buildJobs += 1
      spans += Span(id, parent, qid, "job", e.time * 1000, e.time * 1000)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (qid, id, parent, stageIds) =>
      val i = spans.lastIndexWhere(_.id == id)
      if (i >= 0) spans(i) = spans(i).copy(endUs = e.time * 1000)
      counters(qid).stagesSkipped += stageIds.count(s => !submitted(s))
      stageIds.foreach { s => submitted -= s; stageOwner -= s }
    }
    if (flushJobs.remove(e.jobId)) flushed = true
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { case (qid, jobSpan) =>
      val c = counters(qid)
      c.stages += 1
      val d = c.taskDurations.remove((info.stageId, info.attemptNumber())).getOrElse(Nil).sorted
      if (d.nonEmpty) { c.skewMax += d.last; c.skewMedian += d(d.size / 2) }
      for (s <- info.submissionTime; f <- info.completionTime)
        spans += Span(newId(), jobSpan, qid, "stage", s * 1000, f * 1000)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (qid, _) =>
      val c = counters(qid)
      c.tasks += 1
      val d = e.taskInfo.duration
      c.taskDurations.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) += d
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L,
          d - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }
}

object Tracer {
  val QidKey = "perfbench.qid"
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
  val FlushKey = "perfbench.flush"

  /** Self time per span name: each span's duration minus the part of its
    * interval covered by its children, summed by name. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            if (b <= end) (sum, end) else (sum + b - math.max(a, end), b)
          }._1
        (s.endUs - s.startUs - covered) / 1e6
      }.sum
    }
  }
}

/** Scheduler and executor counters of one query run. */
final class Counters {
  var jobs, buildJobs, stages, stagesSkipped, tasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L
  var skewMax, skewMedian = 0L
  val taskDurations = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
}

/** Wall clock in epoch microseconds with nanoTime resolution, so harness
  * spans and Spark's millisecond event times share one time base. */
final class Clock {
  private val baseUs = System.currentTimeMillis() * 1000
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000
}
