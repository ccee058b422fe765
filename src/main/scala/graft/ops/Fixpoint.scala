package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The one driver of the engine's DataFrame fixpoint loops
  * ([[DedupOps.connectedComponents]], [[GraphOps.bfs]]): [[run]] owns the
  * round counter, the round cap and the loud failure at the cap. It also
  * owns the driver-local finish that connected components, triangles and
  * PageRank share ([[localFinish]]): an input whose row count, observed
  * on its checkpoint, fits [[localFinishRows]] is packed to the driver by
  * [[collectLocal]] and answered there instead of by distributed joins.
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
  private def checkpointAndCount(frame: DataFrame, progress: Column,
      role: Option[String] = Some("round")): (DataFrame, Long) = {
    val obs = Observation()
    val cp = tagged(frame, role.orNull)(eagerCheckpoint(
      frame.observe(obs, count(when(progress, lit(1))).as("progress"))))
    (cp, observedLong(obs, "progress")(tagged(cp, "fallback")(cp.filter(progress).count())))
  }

  /** Rows of a two-column frame of Long ids, packed on the driver: row
    * `i` is (`values(2i)`, `values(2i + 1)`), and `nulls` lists, in
    * ascending order, the positions in `values` whose column was null
    * (their value reads 0). */
  final case class Packed(values: Array[Long], nulls: Array[Int]) {
    def rows: Int = values.length / 2
    def isNull(pos: Int): Boolean =
      nulls.length > 0 && java.util.Arrays.binarySearch(nulls, pos) >= 0

    /** The distinct non-null values, ascending, as `ids` (a value's index
      * there is its rank, so a kernel keeps per-id state in arrays), and
      * the rank of the value at every position, -1 for a null. Values
      * meet through one open-addressing table (load ≤ ½), so only the
      * distinct ids are sorted and no value is binary-searched. */
    def index: (Array[Long], Array[Int]) = {
      val mask = Integer.highestOneBit(math.max(4 * values.length - 1, 1)) - 1
      val keys = new Array[Long](mask + 1)
      val slot = new Array[Int](mask + 1) // 1 + first-seen order; 0 = empty
      val ranks = new Array[Int](values.length)
      var n = 0
      for (pos <- values.indices) ranks(pos) = if (isNull(pos)) -1 else {
        val v = values(pos)
        var h = java.lang.Long.hashCode(v * 0x9E3779B97F4A7C15L) & mask
        while (slot(h) != 0 && keys(h) != v) h = (h + 1) & mask
        if (slot(h) == 0) { keys(h) = v; n += 1; slot(h) = n }
        slot(h) - 1
      }
      val ids = new Array[Long](n)
      for (h <- slot.indices) if (slot(h) != 0) ids(slot(h) - 1) = keys(h)
      java.util.Arrays.sort(ids)
      val rankOf = new Array[Int](n)
      for (h <- slot.indices) if (slot(h) != 0)
        rankOf(slot(h) - 1) = java.util.Arrays.binarySearch(ids, keys(h))
      for (pos <- ranks.indices) if (ranks(pos) >= 0) ranks(pos) = rankOf(ranks(pos))
      (ids, ranks)
    }
  }

  /** The first two columns of `df`, as Longs, packed by [[Packed]] in one
    * job tagged `local`: the input of a driver-local finish whose row
    * count is already known to fit. Each task sends one `long[]` of its
    * partition (16 B a row) instead of a row per record, and the driver
    * decodes no `Row`. Row order follows the partitions; every kernel
    * over it is order-free. */
  private[graft] def collectLocal(df: DataFrame): Packed = {
    val rdd = df.select(df.columns.take(2).map(c => df.col(c).cast(LongType)).toIndexedSeq: _*)
      .queryExecution.toRdd
    val parts = tagged(df, "local")(rdd.mapPartitions(rows => Iterator(pack(rows))).collect())
    val values = new Array[Long](parts.map(_._1.length).sum)
    val nulls = new Array[Int](parts.map(_._2.length).sum)
    var (v, n) = (0, 0)
    for ((vs, ns) <- parts) {
      for (pos <- ns) { nulls(n) = v + pos; n += 1 }
      System.arraycopy(vs, 0, values, v, vs.length)
      v += vs.length
    }
    Packed(values, nulls)
  }

  private def pack(rows: Iterator[InternalRow]): (Array[Long], Array[Int]) = {
    val values = new scala.collection.mutable.ArrayBuilder.ofLong
    val nulls = new scala.collection.mutable.ArrayBuilder.ofInt
    var pos = 0
    rows.foreach { r =>
      for (c <- 0 to 1) {
        if (r.isNullAt(c)) { nulls += pos; values += 0L } else values += r.getLong(c)
        pos += 1
      }
    }
    (values.result(), nulls.result())
  }

  /** Driver heap one input row of a driver-local finish may allocate:
    * the packed collect, the kernel's arrays and its output relation.
    * Allocation bounds what the finish holds at once. `FixpointSpec`
    * measures the allocation slope of each kernel on its worst-case
    * input, a matching (the most ids a row can bring): connected
    * components ~400 B a row (two label rows a pair), PageRank ~220 B,
    * triangles ~175 B on JDK 17 / Spark 4.1. The largest reading,
    * rounded up to a power of two, sets this bound. */
  private[graft] val LocalFinishBytesPerRow: Long = 512

  /** Row cap of the driver-local finish on any heap, which keeps a label
    * map riding the query's plan to a few MB of ids. */
  private[graft] val LocalFinishMaxRows: Int = 1 << 18

  /** Input rows a driver-local finish takes: an eighth of the driver's
    * max heap at [[LocalFinishBytesPerRow]] a row, capped at
    * [[LocalFinishMaxRows]] (reached from a 1 GiB heap up; a 512 MiB
    * heap finishes up to 131,072 rows). */
  private[graft] def localFinishRows: Int = math.min(LocalFinishMaxRows.toLong,
    Runtime.getRuntime.maxMemory / 8 / LocalFinishBytesPerRow).toInt

  /** The driver-local finish: eagerly checkpoints `input` and counts its
    * rows in the same action. Within a budget of `localRows` rows (`0`
    * forces the distributed path), the checkpoint is packed to the driver
    * by [[collectLocal]] and answered by `local`; otherwise `distributed`
    * runs over the checkpoint. */
  private[graft] def localFinish[T](input: DataFrame, localRows: Int)(local: Packed => T)(
      distributed: DataFrame => T): T = {
    val (cp, rows) = checkpointAndCount(input, lit(true), role = None)
    if (localRows > 0 && rows <= localRows) local(collectLocal(cp)) else distributed(cp)
  }

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
