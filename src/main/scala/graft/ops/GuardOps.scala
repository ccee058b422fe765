package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

/** Bounded execution — the reference's monitor/await-with-timeout
  * contract (SURVEY.md §2a O12; reference `MonitorTasks`,
  * `Program.cs:397-425`: `TaskStateMonitor.WhenAll(tasks, Completed,
  * timeout)`, terminate-on-timeout). The Spark-native restatement: run
  * the action on a dedicated thread inside a TAGGED JOB GROUP, await
  * with a bound, and on timeout `cancelJobGroup` — Spark interrupts the
  * group's running tasks on every executor and fails its jobs, so a
  * runaway query releases its cores instead of wedging the session.
  *
  * Why a job group and not just a thread interrupt: Spark actions block
  * the calling thread but the WORK is cluster-side; killing the caller
  * orphans the distributed job. `cancelJobGroup(tag)` is the driver API
  * that propagates cancellation to the scheduler (with
  * `interruptOnCancel = true` so blocked task threads — sleeps, socket
  * reads — unwind immediately). The session itself stays fully usable:
  * cancellation is scoped to the group, exactly like the reference
  * terminating one Batch job while the pool lives on.
  */
object GuardOps {

  private val invocation = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Runs `action` (typically a Spark action: count/collect/write) and
    * returns its value, or cancels the tagged job group and throws
    * `TimeoutException` if it exceeds `timeoutMs`. Exceptions from the
    * action itself are rethrown unwrapped. */
  def runBounded[T](spark: SparkSession, tag: String, timeoutMs: Long)(action: => T): T = {
    // the actual group id is unique per invocation: cancel-and-future
    // poisons its group id in the scheduler's cancelled set, so a RETRY
    // of a previously timed-out action under a reused caller tag must
    // not inherit the stale cancellation
    val groupId = s"$tag-${invocation.incrementAndGet()}"
    val exec = Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, s"graft-bounded-$tag"); t.setDaemon(true); t
    })
    val fut = exec.submit(new Callable[T] {
      def call(): T = {
        spark.sparkContext.setJobGroup(groupId, s"graft bounded action: $tag",
          interruptOnCancel = true)
        try action finally spark.sparkContext.clearJobGroup()
      }
    })
    try fut.get(timeoutMs, TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException =>
        // ...AndFutureJobs, not plain cancelJobGroup: a runaway still in
        // driver-side planning has NO active job to cancel, and in the
        // cancel→interrupt window it could submit more — this variant
        // also rejects the group's future submissions (round-10 review
        // finding), so the thread dies at its next action even if the
        // interrupt lands between blocking points
        spark.sparkContext.cancelJobGroupAndFutureJobs(groupId)
        throw new TimeoutException(
          s"action '$tag' exceeded ${timeoutMs}ms and was cancelled")
      case e: ExecutionException =>
        throw e.getCause
    } finally exec.shutdownNow()
  }

  /** How one bounded run ended: `status` is `ok`, `timeout` or `error`;
    * `seconds` is its wall time and is a timing only when `ok`. */
  final case class Run(status: String, seconds: Double, failure: Option[Throwable]) {
    def ok: Boolean = status == "ok"
  }

  /** [[runBounded]] as a measurement: never throws, records how it ended. */
  def timedRun(spark: SparkSession, tag: String, timeoutMs: Long)(action: => Any): Run = {
    val t0 = System.nanoTime()
    val (status, failure) =
      try { runBounded(spark, tag, timeoutMs)(action); ("ok", None) }
      catch {
        case e: TimeoutException => ("timeout", Some(e))
        case e: Throwable        => ("error", Some(e))
      }
    Run(status, (System.nanoTime() - t0) / 1e9, failure)
  }
}
