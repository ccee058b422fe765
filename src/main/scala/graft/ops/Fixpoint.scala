package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** The one driver of the engine's DataFrame fixpoint loops
  * ([[DedupOps.connectedComponents]], [[GraphOps.bfs]]): [[run]] owns the
  * round counter, the round cap and the loud failure at the cap.
  *
  * A round is one barrier: [[checkpointAndCount]] materializes the
  * round's frame with an EAGER checkpoint whose action also counts the
  * rows that made progress. The truncation is load-bearing: a round's
  * state feeds the next round more than once, so without it the logical
  * plan DOUBLES per round — by round 6 Catalyst re-analyzes 2⁶ inlined
  * copies of the input and the driver becomes the bottleneck (60 s of
  * driver CPU at sf0.1 vs ~4 s checkpointed).
  *
  * Fixpoint jobs carry the local property [[JobKey]]: `round` on the
  * checkpoint action, `fallback` on the count job run after a missed
  * observation, `local` on the collect of a driver-local finish that
  * replaces the rounds ([[collectLocal]]; [[graft.Probe]] reports all
  * three). */
object Fixpoint {
  /** Round cap of every loop. CC's rounds are ≈ log₂(diameter) with
    * pointer jumping, so 50 covers any graph with Long ids; BFS's are
    * hops, and the BFS oracle's recursion guard uses the same bound. */
  val MaxRounds = 50

  /** Local property naming the role of a fixpoint job. */
  val JobKey = "graft.fixpoint"

  /** One round's output: the frame to checkpoint, the predicate of its
    * rows that made progress, and the next state built from the
    * checkpointed frame. */
  final case class Round[S](frame: DataFrame, progress: Column, next: DataFrame => S)

  /** Runs `round(state, r)` for r = 1, 2, … until a round makes no
    * progress or `maxRounds` rounds have run. If the last round still
    * made progress, `complete(state)` decides whether the state is an
    * answer anyway (a depth-bounded query, or a check that the progress
    * reached nothing new); otherwise the loop throws rather than return
    * a silently unconverged state. */
  def run[S](loop: String, init: S, maxRounds: Int = MaxRounds,
      complete: S => Boolean = (_: S) => false)(round: (S, Int) => Round[S]): S = {
    require(maxRounds >= 1 && maxRounds <= MaxRounds,
      s"$loop: maxRounds $maxRounds outside 1..$MaxRounds")
    var state = init
    var progress = 1L
    var r = 0
    while (progress > 0 && r < maxRounds) {
      r += 1
      val step = round(state, r)
      val (cp, n) = checkpointAndCount(step.frame, step.progress)
      state = step.next(cp)
      progress = n
    }
    if (progress > 0 && !complete(state)) throw new IllegalStateException(
      s"$loop: no fixpoint after $maxRounds rounds (still progressing)")
    state
  }

  /** Eagerly checkpoints `frame` and counts its rows where `progress`
    * holds, in one action: the count rides the checkpoint as an observed
    * metric. A missed observation falls back to a count job over the
    * checkpointed frame, which delays the round and never changes it.
    * The checkpoint job is tagged `role` (none: an input checkpoint, not
    * a round). */
  private[graft] def checkpointAndCount(frame: DataFrame, progress: Column,
      role: Option[String] = Some("round")): (DataFrame, Long) = {
    val obs = Observation()
    val cp = tagged(frame, role.orNull)(eagerCheckpoint(
      frame.observe(obs, count(when(progress, lit(1))).as("progress"))))
    (cp, observedLong(obs, "progress")(tagged(cp, "fallback")(cp.filter(progress).count())))
  }

  /** All rows of `df`, collected in one job tagged `local`: the input of
    * a driver-local finish whose row count is already known to fit. */
  private[graft] def collectLocal(df: DataFrame): Array[Row] = tagged(df, "local")(df.collect())

  private def tagged[T](df: DataFrame, role: String)(job: => T): T = {
    val sc = df.sparkSession.sparkContext
    val outer = sc.getLocalProperty(JobKey)
    sc.setLocalProperty(JobKey, role)
    try job finally sc.setLocalProperty(JobKey, outer)
  }

  /** Eager lineage truncation with a cluster-safe default: RELIABLE
    * `checkpoint` when the session has a checkpoint dir (blocks live on
    * the shared FS, so an executor loss mid-fixpoint recovers), else
    * `localCheckpoint` (fastest under `local[N]`, where executor loss
    * means JVM loss anyway).
    *
    * EAGER by design: the checkpointed subtree runs at CALL time, so a
    * builder routed through this helper (dedup_clusters' pair set,
    * dedup_recall_eval's truth/found enumerations) runs its expensive
    * joins while the DataFrame is CONSTRUCTED — merely building or
    * explaining the query does work. The checkpointed sets feed several
    * consumers, which a lazy plan would each re-execute, and every timed
    * harness times build and action together. */
  private[graft] def eagerCheckpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Read one long metric from an [[org.apache.spark.sql.Observation]]
    * whose query just ran ([[checkpointAndCount]] fuses each round's
    * progress count into the checkpoint action this way — one action
    * per round instead of two). The observation completes on the async
    * listener bus a few ms after the action returns, so this waits up to
    * 2 s for it; if the bus ever drops the event (pathological load) or
    * the metric is missing under `key`, the caller's fallback job
    * recomputes the probe — the fusion can delay a round by at most the
    * bound, never hang or change the answer. */
  private[graft] def observedLong(obs: Observation, key: String)(fallback: => Long): Long =
    scala.util.Try(scala.concurrent.Await.result(
        obs.future, scala.concurrent.duration.Duration(2, "s")).getAs[Long](key))
      .getOrElse(fallback)
}
