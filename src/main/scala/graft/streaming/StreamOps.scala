package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface, in two shapes.
  *
  * The reference is a one-shot batch job (SURVEY.md §2c — no streaming
  * anywhere in `Program.cs:96-159`), so nothing here is required for
  * parity; it exists because a 100 TB ingestion pipeline runs these same
  * operators continuously.
  *
  *  - Stateful twins: windows, sessions, dedup and joins, each the
  *    streaming twin of a batch query in [[graft.ops.TimeOps]], sharing
  *    semantics so the specs can replay the fixture parquet through
  *    `readStream` and assert equality with the batch answer.
  *  - File-replay stores: staged files replayed one per micro-batch on
  *    the one [[replay]] driver — the reference's one-map-task-per-file
  *    pipeline (`Program.cs:332-349`) run continuously, reduced on read.
  *    A store is a per-batch transform: an idempotent-by-batch-id delta
  *    ([[maintain]]), the keep-first near-dup rule on top of it
  *    ([[keepFirstInto]]), or a generation swap ([[replayFold]]).
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late data beyond 1 hour is dropped, state for closed windows is
  * evicted); sessionization state is one small record per active user,
  * keyed by user_id — the same shuffle key as the batch variant.
  */
object StreamOps {

  /** Streaming source over the fixture events table: schema inferred from
    * a batch peek (streaming reads need an explicit schema), nanosecond
    * timestamps handled by the same [[graft.Tables.withEventsTs]] as the
    * batch table. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.withEventsTs(spark) {
      val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
      // streaming file sources take a directory; filter it to the events table
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    }

  /** Streaming twin of `time_tumbling`: 1-hour tumbling windows with a
    * 1-hour watermark. Complete-mode result equals the batch query once
    * the file source drains. */
  def tumblingCounts(spark: SparkSession, sfDir: String): DataFrame =
    eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Det.moneySum(col("value")).as("sum_value"))

  /** Streaming twin of `hopping_window` (SLIDING windows): each event
    * lands in size/slide = 4 overlapping one-hour windows, so the state
    * store carries ×4 window rows per key — still bounded, and the
    * watermark retires each window the moment its end falls behind the
    * clock. Same map-side Expand as the batch plan; no grid join. */
  def hoppingCounts(spark: SparkSession, sfDir: String): DataFrame =
    eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(
        window(col("ts"), "1 hour", "15 minutes").getField("start").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Det.moneySum(col("value")).as("sum_value"))

  /** Streaming twin of `session_window_native`: the BUILT-IN
    * session-window aggregate with the same 30-minute gap. In production
    * this runs watermarked in append mode (a session emits once the
    * watermark passes its close — O(1) state per open session per user);
    * the spec drains the finite file source in complete mode so the
    * final table equals the batch operator exactly. */
  def sessionWindowCounts(spark: SparkSession, sfDir: String): DataFrame =
    eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))

  final case class EventIn(user_id: Long, ts: java.sql.Timestamp)
  final case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)
  final case class SessState(lastTsMicros: Long, nSessions: Long, nEvents: Long)

  /** Streaming twin of `sessionize`: per-user 30-minute-gap session
    * counting via `mapGroupsWithState` — the custom-state slot
    * (KeyValueGroupedDataset) the north star asks for. Events within a
    * micro-batch are time-sorted before folding; state carries only
    * (last event time, counters) per active user. */
  def sessionizeStream(spark: SparkSession, sfDir: String): Dataset[UserSessions] = {
    import spark.implicits._
    val gapMicros = 1800L * 1000000L

    def update(userId: Long, events: Iterator[EventIn],
        state: GroupState[SessState]): UserSessions = {
      val sorted = events.map(e => e.ts.getTime * 1000L).toArray.sorted
      var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
      sorted.foreach { t =>
        val isNew = st.lastTsMicros == Long.MinValue || t - st.lastTsMicros > gapMicros
        st = SessState(t, st.nSessions + (if (isNew) 1 else 0), st.nEvents + 1)
      }
      state.update(st)
      UserSessions(userId, st.nSessions, st.nEvents)
    }

    eventsStream(spark, sfDir)
      .select(col("user_id"), col("ts"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }

  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)
  final case class OpenSess(startMicros: Long, lastMicros: Long, n: Long)

  /** The OTHER custom-state slot — `flatMapGroupsWithState` (Append):
    * unlike [[sessionizeStream]]'s one-row-per-key aggregate, this emits
    * a ROW PER CLOSED SESSION as soon as a later event proves the
    * 30-minute gap, while each user's still-open trailing session stays
    * in state (only the open session's bounds are carried — O(1) state
    * per key). This is the session-LOG shape (audit trails, billing
    * records): an append-only event-derived fact stream, not a running
    * aggregate. */
  def sessionLogStream(spark: SparkSession, sfDir: String): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMicros = 1800L * 1000000L

    def update(userId: Long, events: Iterator[EventIn],
        state: GroupState[OpenSess]): Iterator[SessionOut] = {
      val sorted = events.map(e => e.ts.getTime * 1000L).toArray.sorted
      var open = state.getOption
      val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      sorted.foreach { t =>
        open = open match {
          case Some(o) if t - o.lastMicros <= gapMicros =>
            Some(OpenSess(o.startMicros, t, o.n + 1))
          case Some(o) =>
            closed += SessionOut(userId,
              new java.sql.Timestamp(o.startMicros / 1000L),
              new java.sql.Timestamp(o.lastMicros / 1000L), o.n)
            Some(OpenSess(t, t, 1L))
          case None => Some(OpenSess(t, t, 1L))
        }
      }
      open.foreach(state.update)
      closed.iterator
    }

    eventsStream(spark, sfDir)
      .select(col("user_id"), col("ts"))
      .as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming source over the fixture documents table (same batch-peek
    * schema trick as [[eventsStream]]). */
  def documentsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
  }

  /** Streaming twin of exact dedup (`dedup_exact_stats` family): arriving
    * documents are deduplicated on (source, content-digest) with streaming
    * `dropDuplicates` — state is one digest per distinct document, the
    * same 16-byte-per-distinct-row budget as the batch hash-groupBy — and
    * the surviving stream feeds a per-source distinct count. Complete-mode
    * result equals the batch distinct count once the source drains. In a
    * continuous deployment the dedup key set is bounded with
    * `dropDuplicatesWithinWatermark` on the ingest timestamp; the fixture
    * table has no event time, so the finite-replay form is used here. */
  def dedupStream(spark: SparkSession, sfDir: String): DataFrame =
    documentsStream(spark, sfDir)
      .select(col("source"), md5(col("text")).as("digest"))
      .dropDuplicates("source", "digest")
      .groupBy("source")
      .agg(count(lit(1)).as("n_distinct_docs"))

  /** The BOUNDED-STATE production dedup form [[dedupStream]]'s doc
    * points at: `dropDuplicatesWithinWatermark` over event time. The
    * fixture events table DOES carry event time (`ts`), so this twin
    * simulates at-least-once delivery by unioning two replicas of the
    * same file stream — every event arrives (at least) twice — and
    * dedups on `event_id` under a 1-hour watermark. Unlike plain
    * streaming `dropDuplicates` (state grows with all-time distinct
    * keys), state here is evicted as the watermark passes, so a
    * continuous deployment holds only ~1 hour of keys — the O(window)
    * state budget that survives an unbounded stream. The finite replay
    * drains in one micro-batch (watermark still at epoch), so every
    * duplicate is in-state and the result equals the batch per-type
    * counts exactly — asserted in StreamingSpec. */
  def dedupWithinWatermarkStream(spark: SparkSession, sfDir: String): DataFrame =
    eventsStream(spark, sfDir)
      .unionAll(eventsStream(spark, sfDir))
      .select(col("event_id"), col("ts"), col("event_type"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))

  /** Static per-user profile (batch side of the stream-static join):
    * historical event count and spend per user — the precomputed
    * dimension a serving pipeline joins onto live traffic. */
  def userProfile(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_hist"), graft.Det.moneySum(col("value")).as("hist_value"))

  /** Stream-static enrichment join: the live event stream joined to the
    * BROADCAST static profile (no shuffle on the stream side, no state —
    * stream-static inner joins are stateless), then a watermark-free
    * count by (event_type, heavy_user). At 100 TB the profile is the
    * dimension table; only it is rebuilt batch-side, the stream never
    * repartitions. */
  def enrichedCounts(spark: SparkSession, sfDir: String): DataFrame =
    eventsStream(spark, sfDir)
      .join(broadcast(userProfile(spark, sfDir)), "user_id")
      .withColumn("heavy_user", col("n_hist") >= 75)
      .groupBy("event_type", "heavy_user")
      .agg(count(lit(1)).as("n"))

  /** Stream-stream join: purchases within 30 minutes after a click by the
    * same user. Both sides carry watermarks and the join has a time-range
    * predicate, so state is evicted once the watermark passes the range —
    * the unbounded-state trap of stream-stream joins is closed by
    * construction. Inner joins emit on match arrival (no watermark
    * latency); the result is the raw pair stream, aggregation is left to
    * the consumer. */
  def purchaseAfterClick(spark: SparkSession, sfDir: String): DataFrame = {
    val base = eventsStream(spark, sfDir)
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"))
  }

  /** LEFT OUTER stream-stream join over the multi-batch replay — the
    * outer twin of [[purchaseAfterClick]], and semantically the harder
    * half: a MATCHED (click, purchase) pair emits the moment the
    * purchase arrives, but a click with NO purchase can only emit its
    * null row when the watermark proves no matching purchase can still
    * arrive — i.e. when the click's 30-minute join window falls entirely
    * below the watermark and its state row is EVICTED. Null emission IS
    * state expiry, which is why outer stream-stream joins require the
    * watermark + time-interval condition that inner joins merely benefit
    * from. Operational corollary (spec-pinned): when the source drains,
    * the final watermark stops at max(ts) − delay, so the trailing
    * clicks' null rows are NOT yet emitted — a drained stream is not a
    * finished one. At 100 TB this join is the attribution workhorse:
    * state is O(window), keyed by user, sharded by the state store. */
  def clickPurchaseOuterReplay(spark: SparkSession, stagedDir: String): DataFrame = {
    val base = replaySource(spark, stagedDir)
    val clicks = base.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_ts"))
  }

  /** Streaming twin of [[graft.ops.WarehouseOps.mergeUpsert]]: incremental
    * MERGE via `foreachBatch` — the canonical streaming-warehouse-
    * maintenance pattern. The order fixture is staged as 4 o_orderkey-range
    * files ([[stageSliceFiles]]) and streamed one file per microbatch;
    * each batch's per-customer open position is MERGEd (full-outer +
    * coalesce-add) into a parquet state table with an atomic swap
    * ([[replayFold]]). The accumulated state equals the one-shot batch
    * aggregate because the partial sums are DECIMAL — associative across
    * batch boundaries exactly as they are across executors. The stream
    * itself stays STATELESS (the aggregation lives in the sink), so no
    * watermark or state-store sizing is involved; at scale the same
    * foreachBatch body targets a transactional table format instead of a
    * swap dir. Returns the final state table after the source drains. */
  def upsertMergeRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageSliceFiles(spark, sfDir, 4, "orderslice_4",
      graft.Tables.orders(spark, sfDir), "o_orderkey")
    val dec = "decimal(28,2)"
    replayFold(spark, staged, "b*.parquet") { (batch, prev) =>
      val delta = batch.filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey").as("u_custkey"))
        .agg(count(lit(1)).as("n_open"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast(dec).as("open_spend"))
      prev.fold(delta) { st =>
        st.as("s").join(delta.as("d"),
            col("s.u_custkey") === col("d.u_custkey"), "full_outer")
          .select(
            coalesce(col("s.u_custkey"), col("d.u_custkey")).as("u_custkey"),
            (coalesce(col("s.n_open"), lit(0L)) +
              coalesce(col("d.n_open"), lit(0L))).as("n_open"),
            (coalesce(col("s.open_spend"), lit(0).cast(dec)) +
              coalesce(col("d.open_spend"), lit(0).cast(dec))).cast(dec).as("open_spend"))
      }
    }
  }

  /** Drain a streaming DataFrame through a memory sink and return the
    * materialized result — the spec/smoke harness for finite file
    * sources. */
  def runToTable(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val spark = df.sparkSession
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Schema-peeked stream over pre-staged parquet files, one file per
    * trigger (streaming reads need an explicit schema; the peek reads the
    * staged dir as a batch). `glob`, when given, narrows the replay to
    * the staged files it matches. */
  private def replaySource(spark: SparkSession, staged: String,
      glob: Option[String] = None): DataFrame = {
    val src = spark.readStream.schema(spark.read.parquet(staged).schema)
      .option("maxFilesPerTrigger", "1")
    glob.fold(src)(src.option("pathGlobFilter", _)).parquet(staged)
  }

  /** THE file-replay driver of every maintained store: drains the staged
    * files matching `glob` through `step(batch, batchId)`, one file per
    * micro-batch, and fails loudly when no micro-batch ran — a glob that
    * matched nothing would otherwise return an empty or stale store as if
    * it were current. The drain runs without a `checkpointLocation` (a
    * finite replay into stores that are idempotent by batch id); a
    * continuous deployment sets it here, on the shared FS. */
  private def replay(spark: SparkSession, staged: String, glob: String)(
      step: (DataFrame, Long) => Unit): Unit = {
    @volatile var ranBatches = 0
    val q = replaySource(spark, staged, Some(glob)).writeStream.foreachBatch {
      (batch: DataFrame, id: Long) =>
        step(batch, id)
        ranBatches += 1
    }.start()
    try q.processAllAvailable() finally q.stop()
    require(ranBatches > 0, s"no micro-batch ran over $staged ($glob)")
  }

  /** One stream run of a maintained store: each micro-batch's
    * `delta(batch, gen)` is written with overwrite to the generation
    * subdir `<storeDir>/<gen>`, `gen = <prefix>_<runTag>_<id>`.
    * Idempotent BY BATCH ID: a re-executed batch replaces its own output
    * instead of appending a duplicate, so at-least-once delivery cannot
    * double an additive counter or a band row. `runTag` namespaces one
    * run's subdirs, so two successive runs over the same store (today's
    * drop after yesterday's) never collide on micro-batch ids, which
    * restart at 0 per query. `rows`, when given, is the batch transform a
    * step reads more than once (the keep-first joins): built once per
    * batch and held until its delta is written. */
  private def maintain(spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String, prefix: String = "delta",
      rows: Option[DataFrame => DataFrame] = None)(
      delta: (DataFrame, String) => DataFrame): Unit =
    replay(spark, staged, glob) { (batch, id) =>
      val gen = s"${prefix}_${runTag}_$id"
      val in = rows.fold(batch)(_(batch).persist())
      delta(in, gen).write.mode("overwrite").parquet(s"$storeDir/$gen")
      if (rows.nonEmpty) in.unpersist()
    }

  /** The generation-swap shape on the replay driver: each micro-batch
    * folds into the previous generation (`merge(batch, prev)`, `prev` =
    * None on the first batch), written as a fresh `gen_<id>` dir under a
    * temp state root and then repointed to — an atomic swap. Only the
    * last generation is ever read, so the one it supersedes is deleted
    * once the new one is written. Returns the last generation. */
  private[graft] def replayFold(spark: SparkSession, staged: String, glob: String)(
      merge: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame = {
    val stateRoot = java.nio.file.Files.createTempDirectory("graft_fold_state")
    @volatile var current: Option[String] = None
    replay(spark, staged, glob) { (batch, id) =>
      val out = stateRoot.resolve(s"gen_$id").toString
      merge(batch, current.map(spark.read.parquet(_)))
        .write.mode("overwrite").parquet(out)
      current.filter(_ != out).foreach { prev =>
        val p = new org.apache.hadoop.fs.Path(prev)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      current = Some(out)
    }
    spark.read.parquet(current.get)
  }

  /** A fresh store dir `<name>` under a new temp dir — the `*MaintainRun`
    * harness runs build their store from scratch. */
  private def tempStore(prefix: String, name: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve(name).toString

  /** Stages the events table as `nFiles` TIME-CONTIGUOUS parquet files,
    * each holding its time-slice TWICE (at-least-once delivery), written
    * one at a time in ascending time order so their modification times
    * ascend with event time. Replayed with `maxFilesPerTrigger=1`, the
    * file source then feeds one slice per micro-batch IN TIME ORDER —
    * the watermark genuinely advances between batches, which is the
    * precondition for OBSERVING `dropDuplicatesWithinWatermark` state
    * eviction rather than asserting it by construction (the single-batch
    * replay in [[dedupWithinWatermarkStream]]'s spec never moves the
    * watermark off epoch). Built once behind
    * [[graft.ops.FileOps.materializeOnce]]; the staged dir lives under
    * [[graft.ops.FileOps.filesRoot]]. */
  def stageTimeOrderedEventFiles(spark: SparkSession, sfDir: String,
      nFiles: Int,
      cols: Seq[String] = Seq("event_id", "ts", "event_type")): String = {
    // column list spelled out in the key, NOT hashed — the hashCode key
    // this replaces is the collision bug FileOps.cacheDir's scaladoc
    // records retiring (round-9 review finding)
    val kind = s"stream_stage_${nFiles}_" +
      cols.mkString("-").replaceAll("[^A-Za-z0-9_-]", "_")
    graft.ops.FileOps.materializeOnce(spark, kind, sfDir) { dir =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ev = graft.Tables.events(spark, sfDir)
        .select(cols.map(col): _*)
      val Array(lo, hi) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val span = hi - lo + 1
      val bucket = ((unix_micros(col("ts")) - lit(lo)) * nFiles / lit(span))
        .cast("int")
      (0 until nFiles).foreach { i =>
        val slice = ev.filter(bucket === i)
        val scratch = new org.apache.hadoop.fs.Path(root, s"_stage_$i")
        // duplicate WITHIN the slice: the copies land in the same
        // micro-batch, where the dedup contract holds regardless of the
        // watermark's position
        slice.unionAll(slice).coalesce(1)
          .write.mode("overwrite").parquet(scratch.toString)
        val part = fs.listStatus(scratch)
          .map(_.getPath).find(_.getName.startsWith("part-"))
          .getOrElse(sys.error(s"no part file under $scratch"))
        val dest = new org.apache.hadoop.fs.Path(root, f"b$i%02d.parquet")
        // a half-finished prior attempt (no marker yet) may have left the
        // dest behind; rename over it would silently no-op (rename
        // returns false, data lost to the delete below — review finding)
        if (fs.exists(dest)) fs.delete(dest, false)
        require(fs.rename(part, dest), s"rename $part -> $dest failed")
        fs.delete(scratch, true)
      }
    }
  }

  /** The multi-batch twin of [[dedupWithinWatermarkStream]] over a
    * pre-staged time-ordered file dir (see
    * [[stageTimeOrderedEventFiles]]): one file per trigger, so the
    * watermark advances each micro-batch and keys older than 1 hour are
    * EVICTED between batches — StreamingSpec asserts the state-store row
    * count stays far below the all-time distinct count while the final
    * counts still equal batch. */
  def dedupWithinWatermarkReplay(spark: SparkSession, stagedDir: String): DataFrame =
    replaySource(spark, stagedDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"))

  /** Streaming sketch maintenance — the day-over-day distinct-user
    * pipeline the batch sketch tier ([[graft.ops.SketchOps.hllSketchPersist]])
    * and the multi-batch replay ([[stageTimeOrderedEventFiles]]) compose
    * into. Events replay one time-slice file per micro-batch;
    * `foreachBatch` builds the batch's per-type HLL sketches and
    * union-merges them into a persisted parquet sketch store via the
    * same atomic generation swap as [[upsertMergeRun]] ([[replayFold]]).
    * The stream is STATELESS — no watermark, no state store; the only
    * carried state is the ~4 KB-per-type sketch table on disk — and no
    * batch's raw rows are ever rescanned after its trigger completes.
    * The staged files hold each slice TWICE (at-least-once delivery),
    * which the pipeline absorbs for free: HLL insertion is idempotent,
    * so replayed rows cannot move any estimate — the robustness property
    * that makes sketch stores safer warehouse state than additive
    * counters (compare [[upsertMergeRun]], whose sums would double).
    * Returns the final
    * per-type + `__ALL__` estimates, EXACTLY equal to the one-shot
    * [[graft.ops.SketchOps.hllUserSketches]] because register-wise max
    * is associative and commutative across any batch slicing
    * (StreamingSpec pins the equality). */
  def hllSketchMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageTimeOrderedEventFiles(spark, sfDir, 4,
      Seq("event_id", "ts", "event_type", "user_id"))
    val sk = replayFold(spark, staged, "b*.parquet") { (batch, prev) =>
      val delta = batch.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(graft.ops.SketchOps.LgK)).as("sk"))
      prev.fold(delta)(_.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(hll_union_agg(col("sk"), lit(false)).as("sk")))
    }
    val per = sk.select(col("event_type"),
      hll_sketch_estimate(col("sk")).as("approx_users"))
    val all = sk.agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
      .select(lit("__ALL__").as("event_type"),
        hll_sketch_estimate(col("sk")).as("approx_users"))
    per.unionByName(all).orderBy("event_type")
  }

  /** Documents staged as nFiles doc_id-RANGE slices, ascending — the
    * "daily crawl drop" replay: earlier ids arrive in earlier batches,
    * so "every earlier document" is exactly (persisted store ∪ the
    * current batch's lower ids). */
  private[graft] def stageDocSliceFiles(
      spark: SparkSession, sfDir: String, nFiles: Int,
      cols: Seq[String] = Seq("doc_id", "text")): String = {
    // default column set keeps the historical cache key so warm fixture
    // dirs stay valid; non-default sets get their own namespaced dir
    val kind =
      if (cols == Seq("doc_id", "text")) s"docslice_$nFiles"
      else s"docslice_${nFiles}_" +
        cols.mkString("-").replaceAll("[^A-Za-z0-9_-]", "_")
    stageSliceFiles(spark, sfDir, nFiles, kind,
      graft.Tables.documents(spark, sfDir).select(cols.map(col): _*), "doc_id")
  }

  /** The embeddings twin of [[stageDocSliceFiles]] — replays the vector
    * table as `nFiles` id-ordered micro-batch files (the ingestion shape
    * an embedding pipeline feeds an index-maintenance stream). */
  private[graft] def stageVecSliceFiles(
      spark: SparkSession, sfDir: String, nFiles: Int): String =
    stageSliceFiles(spark, sfDir, nFiles, s"vecslice_$nFiles",
      graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding"), "vec_id")

  /** Shared slicer: `df` split into `nFiles` contiguous `key`-range
    * parquet files under a [[graft.ops.FileOps.materializeOnce]] cache
    * dir, one file per micro-batch when replayed with
    * `maxFilesPerTrigger=1`. */
  private def stageSliceFiles(
      spark: SparkSession, sfDir: String, nFiles: Int, kind: String,
      df: DataFrame, key: String): String =
    graft.ops.FileOps.materializeOnce(spark, kind, sfDir) { dir =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val Array(lo, hi) = df.agg(min(key), max(key))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val span = hi - lo + 1
      val bucket = ((col(key) - lit(lo)) * nFiles / lit(span)).cast("int")
      (0 until nFiles).foreach { i =>
        df.filter(bucket === i).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/_staging_b$i")
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$dir/_staging_b$i/part-*.parquet"))(0).getPath
        val dest = new org.apache.hadoop.fs.Path(root, f"b$i%02d.parquet")
        if (fs.exists(dest)) fs.delete(dest, false)
        require(fs.rename(part, dest), s"rename $part -> $dest failed")
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_staging_b$i"), true)
      }
    }

  /** INCREMENTAL near-dup maintenance — the dedup a production corpus
    * actually runs: yesterday's crawl is already deduped and signed; only
    * today's drop should pay compute. Each micro-batch (1) signs its new
    * documents with the SAME native MinHash signature as the batch
    * operator, (2) bands them with [[graft.ops.DedupOps.bandExplode]] —
    * same constants, so a pair collides here iff it collides there, (3)
    * joins the new band rows against the PERSISTED band store (all
    * previously seen documents — matching is against every earlier doc,
    * kept or dropped, which is what makes the rule order-insensitive to
    * slicing) plus the batch's own lower ids, (4) drops any new doc with
    * an est≥0.8 match to an earlier doc (identical signatures estimate
    * 1.0 — exact dups need no special case), and (5) APPENDS the new
    * band rows + kept flags as a new file in the store dir — per-batch
    * write volume is the new slice's rows only (a generation-swap
    * rewrite of the accumulated store would make cumulative I/O
    * quadratic in corpus age; round-9 review finding).
    *
    * Per-batch cost is new-bands × matching buckets — the historical
    * corpus is touched through the band JOIN only, never re-signed and
    * never re-compared pair-to-pair; the store is 16 band rows per doc
    * (sig payload included, the same carry-the-signature trade the batch
    * operator measured in NOTES_r09 §1). The stream itself is STATELESS
    * (no state store; the parquet band store is the only carried state).
    * Replay idempotence is BY BATCH ID: each micro-batch writes its band
    * rows to a `batch_<tag>_<id>` subdir with overwrite, so a
    * re-executed batch replaces its own output instead of appending a
    * duplicate — the store stays exactly BANDS rows per document under
    * at-least-once delivery (spec-pinned invariant). Long-running stores
    * are periodically rewritten to O(1) files by [[compactBandStore]].
    *
    * Semantics (spec-pinned): drop-if-any-earlier-match — doc b is
    * dropped iff some a < b has est(a,b) ≥ 0.8 through ≥1 shared band.
    * The streamed kept set EQUALS the batch rule derived from
    * `dedup_minhash_lsh`'s verified pairs: kept = all − {doc_b of any
    * pair} (pairs are emitted a<b). Returns the final band STORE
    * (doc_id, sig, band_idx, band_hash, kept); kept doc ids are its
    * `kept` rows — NOT a bare id set (each doc carries BANDS rows). */
  def incrementalDedupRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageDocSliceFiles(spark, sfDir, 4)
    val storeDir = tempStore("graft_inc_dedup", "band_store")
    incrementalDedupInto(spark, staged, storeDir, "b*.parquet", "all")
    readBandStore(spark, storeDir)
  }

  /** Minus-self generation listing of the keep-first stores
    * ([[keepFirstInto]]): the store's generation subdirs EXCLUDING the
    * running batch's own output — on an at-least-once replay the
    * overwrite deletes that subdir before the join runs, so a listing
    * that still referenced the prior attempt's files would fail mid-task
    * with FileNotFound (round-9 review finding). `_`-prefixed dirs are
    * in-flight compaction staging, never read. */
  private def listPrevGenerations(
      spark: SparkSession, storeDir: String, selfName: String): Array[String] = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).collect {
      case s if s.isDirectory &&
        !s.getPath.getName.startsWith("_") &&
        s.getPath.getName != selfName => s.getPath.toString
    }
  }

  /** The band STORE as a DataFrame: the union of every generation subdir
    * (`batch_<tag>_<id>` appends and `compact_<n>` rewrites). */
  private[graft] def readBandStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(storeDir)

  /** The keep-first near-dup rule shared by the band, semantic and phash
    * stores, on [[maintain]]: each batch's `rows` (persisted for the
    * batch) are matched against every earlier generation plus the batch's
    * own lower `key`s — joined on the `bucket` columns, confirmed by
    * `near` over the aliases `x` (earlier) and `y` (new) — and a row with
    * any match is flagged `kept = false`. Earlier rows match kept or
    * dropped alike (the chain-free rule: decisions never depend on a
    * chain the stream would have to re-walk). Earlier generations come
    * from [[listPrevGenerations]], so a replayed batch never reads the
    * output its overwrite is deleting.
    *
    * AUTO-COMPACTION POLICY (round-10 verdict #4): the maintenance job is
    * scheduled, not remembered. [[maybeCompactBandStore]] runs after the
    * stream drains, i.e. the between-runs slot [[compactBandStore]]'s
    * contract requires (a rewrite concurrent with an appending batch
    * could delete a subdir the batch's minus-self listing already
    * snapshotted). */
  private def keepFirstInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String, prefix: String,
      key: String, bucket: Seq[String], near: Column)(
      rows: DataFrame => DataFrame): Unit = {
    maintain(spark, staged, storeDir, glob, runTag, prefix, Some(rows)) { (fresh, gen) =>
      def matches(earlier: DataFrame): DataFrame =
        earlier.as("x").join(fresh.as("y"),
            bucket.map(c => col(s"x.$c") === col(s"y.$c")).reduce(_ && _) &&
              col(s"x.$key") < col(s"y.$key"))
          .filter(near)
          .select(col(s"y.$key").as(key))
      val inBatch = matches(fresh)
      val prevDirs = listPrevGenerations(spark, storeDir, gen)
      val dropped = (if (prevDirs.nonEmpty)
          matches(spark.read.parquet(prevDirs.toSeq: _*).drop("kept"))
            .unionByName(inBatch)
        else inBatch).distinct()
      fresh.join(dropped.withColumn("is_dropped", lit(true)), Seq(key), "left")
        .withColumn("kept", col("is_dropped").isNull)
        .select((fresh.columns.toSeq :+ "kept").map(col): _*)
    }
    maybeCompactBandStore(spark, storeDir)
  }

  /** One stream run of the incremental rule over the staged files that
    * match `glob`, appending `batch_<runTag>_<id>` generations into
    * `storeDir` ([[maintain]]). */
  private[graft] def incrementalDedupInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String): Unit = {
    import graft.ops.DedupOps
    val est = graft.functions.VectorFunctions
      .arrayEqCount(col("x.sig"), col("y.sig")).cast("double") / DedupOps.SigK
    keepFirstInto(spark, staged, storeDir, glob, runTag, "batch",
        "doc_id", Seq("band_idx", "band_hash"), est >= 0.8) { batch =>
      DedupOps.bandExplode(batch.select(col("doc_id"),
        // array_distinct first — bit-identical signature, duplicate
        // occurrences skip their md5 + K transforms (the batch
        // operator's r18 note; the two sides must stay value-identical
        // for the band store to interoperate, and they do)
        graft.functions.VectorFunctions
          .minhashSig(array_distinct(split(col("text"), " ")), DedupOps.SigK)
          .as("sig")), "doc_id")
    }
  }

  /** Compacts a keep-first store (band, semantic, phash) iff its
    * generation-subdir count exceeds
    * `spark.graft.bandstore.maxGenerations` — the policy that keeps a
    * long-running store's file count bounded without manual operation.
    * The counter and index stores stay off it: [[compactBandStore]]'s
    * `distinct` would merge equal counter rows of different batches.
    * In production this is the post-run maintenance step of the daily
    * incremental job; the threshold trades listing cost (O(generations)
    * per batch join) against rewrite I/O (O(store) per compaction). */
  private[graft] def maybeCompactBandStore(spark: SparkSession, storeDir: String): Unit = {
    val maxGen = graft.GraftConf.bandstoreMaxGenerations(spark)
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) {
      val gens = fs.listStatus(root).count { s =>
        s.isDirectory && !s.getPath.getName.startsWith("_")
      }
      if (gens > maxGen)
        compactBandStore(spark, storeDir,
          graft.GraftConf.bandstoreCompactTargetFiles(spark))
    }
  }

  /** Streaming BPE-token accounting (round-10 verdict #7): the sketch-
    * store maintenance pattern applied to the REAL-token unit training
    * runs provision in. Document slices replay one file per micro-batch;
    * `foreachBatch` computes the batch's per-source BPE token totals
    * with the same native codegen expression as the batch
    * `bpe_token_count` and writes them as an idempotent-by-batch-id
    * delta subdir (`delta_<tag>_<id>`, overwrite — a re-executed batch
    * replaces its own delta, so at-least-once replay cannot double the
    * additive longs; this is the counter-store answer to the problem HLL
    * solves by insertion idempotence). The stream is STATELESS; the
    * store is one tiny per-source row set per batch, rolled up on read.
    * Final totals EXACTLY equal the one-shot batch rollup because BPE
    * counts are additive longs over disjoint slices (StreamingSpec pins
    * the equality and the replay idempotence). */
  def bpeTokenMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageDocSliceFiles(spark, sfDir, 4, Seq("doc_id", "source", "text"))
    val storeDir = tempStore("graft_bpe_maint", "token_store")
    bpeTokenMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    readTokenStore(spark, storeDir)
  }

  /** The token store rolled up to per-source totals. */
  private[graft] def readTokenStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(storeDir)
      .groupBy("source")
      .agg(sum("bpe_tokens").cast("long").as("bpe_tokens"),
        sum("n_docs").cast("long").as("n_docs"))
      .orderBy("source")

  /** One stream run of the token-accounting maintenance over the staged
    * files matching `glob`, writing per-batch delta subdirs under
    * `storeDir` (same runTag namespacing as [[incrementalDedupInto]]). */
  private[graft] def bpeTokenMaintainInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String): Unit =
    maintain(spark, staged, storeDir, glob, runTag) { (batch, _) =>
      batch
        .select(col("source"),
          graft.functions.BpeFunctions.bpeTokenCount(col("text")).as("n"))
        .groupBy("source")
        .agg(sum(col("n")).cast("long").as("bpe_tokens"),
          count(lit(1)).as("n_docs"))
    }

  /** Streaming BM25 CORPUS-STATS maintenance — the ingestion half of the
    * [[graft.ops.IrOps.bm25Rank]] story run CONTINUOUSLY: a serving BM25
    * index needs the corpus statistics (N, Σdl, per-term df) current as
    * documents arrive, and every one of those statistics is an ADDITIVE
    * long — so the maintenance is the [[bpeTokenMaintainInto]] counter
    * doctrine verbatim: each micro-batch tokenizes with the batch
    * ranker's own [[graft.ops.IrOps.docTermBase]] definition, aggregates
    * its 1-row stats delta, and overwrites `delta_<tag>_<id>` (replay
    * under at-least-once delivery replaces, never doubles). The
    * read-back sums the deltas to the exact batch aggregate — and
    * because [[graft.ops.IrOps.scoreWithStats]] takes the stats row as a
    * parameter, scoring the corpus with the MAINTAINED stats is
    * bit-identical to the one-shot `bm25_rank` (StreamingSpec pins the
    * full top-50 equality, not just the counters). Store size: one
    * 6-column row per micro-batch, independent of corpus size. */
  def bm25StatsMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageDocSliceFiles(spark, sfDir, 4)
    val storeDir = tempStore("graft_bm25_maint", "stats_store")
    bm25StatsMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    readBm25StatsStore(spark, storeDir)
  }

  /** The delta store rolled up to the single stats row ([[graft.ops.IrOps
    * .corpusStats]] schema: exact long sums, column-generic so the term
    * list lives in one place). */
  private[graft] def readBm25StatsStore(spark: SparkSession, storeDir: String): DataFrame = {
    val store = spark.read.option("recursiveFileLookup", "true").parquet(storeDir)
    val sums = store.columns.map(c => sum(col(c)).cast("long").as(c))
    store.agg(sums.head, sums.tail: _*)
  }

  private[graft] def bm25StatsMaintainInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String): Unit =
    maintain(spark, staged, storeDir, glob, runTag) { (batch, _) =>
      graft.ops.IrOps.corpusStats(graft.ops.IrOps.docTermBase(batch))
    }

  /** Streaming IVF INDEX maintenance — the ingestion half of the
    * [[graft.ops.SimOps.annIvfPersist]] story run CONTINUOUSLY: the
    * coarse quantizer is pinned once (in production: fitted offline and
    * versioned; here the same deterministic mod-rule centroids as the
    * batch index, derived from the staged corpus up front), and each
    * micro-batch of new vectors is assigned to its cell and APPENDED to
    * the at-rest index as an idempotent-by-batch-id delta — per-batch
    * cost is the batch's vectors × centroids, the historical index is
    * never re-assigned. Probing the maintained store with the SAME
    * [[graft.ops.SimOps.ivfProbeCells]] yields results bit-identical to
    * the batch [[graft.ops.SimOps.annIvfProbe]] (StreamingSpec pins the
    * equality and replay idempotence). */
  def ivfIndexMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageVecSliceFiles(spark, sfDir, 4)
    val storeDir = tempStore("graft_ivf_maint", "index_store")
    ivfIndexMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    graft.ops.SimOps.ivfProbeCells(readIvfIndexStore(spark, storeDir))
  }

  /** The maintained index read back (vec_id, embedding, nrm, cell). */
  private[graft] def readIvfIndexStore(
      spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(storeDir)

  /** One stream run of the index maintenance over the staged vector
    * files matching `glob`, appending per-batch delta subdirs. */
  private[graft] def ivfIndexMaintainInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String): Unit =
    withCentroids(spark, staged) { cents =>
      maintain(spark, staged, storeDir, glob, runTag) { (batch, _) =>
        graft.ops.SimOps.ivfAssign(graft.ops.SimOps.withNorm(batch), cents)
      }
    }

  /** Runs `body` with the coarse quantizer pinned for one stream run:
    * the centroid-count rows every batch reuses, persisted for the run.
    * `supplied` is the externally built table; `None` trains over the
    * full staged corpus (see [[semanticDedupMaintainInto]]). */
  private def withCentroids(spark: SparkSession, staged: String,
      supplied: Option[DataFrame] = None)(body: DataFrame => Unit): Unit = {
    import graft.ops.SimOps
    val cents = supplied.getOrElse(SimOps.ivfCentroids(spark,
      SimOps.withNorm(spark.read.parquet(staged)))).persist()
    try body(cents) finally cents.unpersist()
  }

  /** Streaming IVF-PQ CODES maintenance — the ingestion half of the
    * [[graft.ops.SimOps.annIvfPqPersist]] story run CONTINUOUSLY (the
    * [[ivfIndexMaintainInto]] doctrine plus codes, r16 verdict #6): the
    * coarse quantizer AND the PQ codebook are both FROZEN (in
    * production: fitted offline and versioned; here the same
    * deterministic mod-rule centroids and the fixed book the batch
    * index uses), and each micro-batch of new vectors is assigned to
    * its cell, ENCODED to 12-bit codes, and appended to the codes store
    * as an idempotent-by-batch-id delta — per-batch cost is the batch's
    * vectors × (centroids + M·K code distances), the historical codes
    * are never re-encoded. Probing the maintained store with the SAME
    * [[graft.ops.SimOps.ivfPqProbeCodes]] yields results bit-identical
    * to the batch `ann_ivfpq`/`ann_ivfpq_persist` (StreamingSpec pins
    * the equality and replay idempotence). */
  def ivfPqIndexMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageVecSliceFiles(spark, sfDir, 4)
    val storeDir = tempStore("graft_ivfpq_maint", "codes_store")
    ivfPqIndexMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    graft.ops.SimOps.ivfPqProbeCodes(readIvfIndexStore(spark, storeDir))
  }

  /** One stream run of the codes-index maintenance over the staged
    * vector files matching `glob`, appending per-batch delta subdirs of
    * (vec_id, embedding, nrm, cell, code0..3). */
  private[graft] def ivfPqIndexMaintainInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String): Unit =
    withCentroids(spark, staged) { cents =>
      maintain(spark, staged, storeDir, glob, runTag) { (batch, _) =>
        graft.ops.SimOps.pqCoded(
            graft.ops.SimOps.ivfAssign(graft.ops.SimOps.withNorm(batch), cents))
          .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"),
            col("code0"), col("code1"), col("code2"), col("code3"))
      }
    }

  /** Streaming SEMANTIC dedup — the ONLINE form of
    * [[graft.ops.SimOps.dedupSemantic]]: micro-batches of vectors are
    * assigned with the FROZEN coarse quantizer, probed against the
    * store's SAME-CELL vectors, and a vector with a SMALLER-vec_id
    * near-dup (cosine ≥ the cluster threshold; store row or same-batch
    * row alike — the id total order is THE precedence rule, applied
    * uniformly) is flagged dropped; every row appends to the store as an
    * idempotent-by-batch-id delta carrying its `kept` flag. The id-order
    * rule is what makes the decision independent of batch boundaries and
    * replay: the same vector pair resolves the same way whether they met
    * in one batch or across two. It equals ARRIVAL order only when
    * vec_ids are assigned monotonically with ingestion (true of this
    * fixture and of any ingest that stamps ids from a monotone sequence)
    * — a store row with a LARGER vec_id than a new vector never flags
    * it, by design, whatever its wall-clock arrival. Two deliberate
    * semantic departures from the batch pass, both inherent to online
    * dedup and both spec-pinned: a stream can only keep-FIRST in id
    * order (the offline least-central-keeper policy needs the whole
    * group before deciding — by the time a better representative
    * arrives, the first is already serving), and a smaller-id near-dup
    * counts kept or DROPPED alike (the [[incrementalDedupInto]] rule:
    * near-dup-of-a-dropped-near-dup is still a dup — decisions never
    * depend on a chain the stream would have to re-walk).
    *
    * Scale shape: the store is touched ONLY through the cell equi-join
    * (per-batch work is |batch| · cell occupancy codegen dots — the
    * streaming twin of the batch op's blocked per-cell enumeration);
    * deltas are generation subdirs with the minus-self listing, so an
    * at-least-once replay overwrites its own output and cannot
    * double-count, compacted by the same [[maybeCompactBandStore]]
    * policy as the band and phash stores ([[keepFirstInto]]). */
  def semanticDedupMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageVecSliceFiles(spark, sfDir, 4)
    val storeDir = tempStore("graft_sem_dedup", "sem_store")
    semanticDedupMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    readSemStore(spark, storeDir)
  }

  /** The maintained semantic store read back (vec_id, cell, kept). */
  private[graft] def readSemStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(storeDir)
      .select("vec_id", "cell", "kept")

  /** `centroids`: the FROZEN coarse quantizer. An online pipeline cannot
    * train its quantizer on data it has not seen — production supplies a
    * pre-built centroid table here (e.g. the at-rest IVF tier's, or
    * yesterday's [[graft.ops.SimOps.ivfCentroids]] snapshot). The `None`
    * default trains over the full staged fixture as a STAND-IN for that
    * externally supplied table — acceptable in the harness only because
    * the spec's batch-equality pin needs both passes to share one
    * quantizer; it is not an online-computable step. */
  private[graft] def semanticDedupMaintainInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String,
      centroids: Option[DataFrame] = None): Unit = {
    import graft.ops.SimOps
    val cos = graft.functions.VectorFunctions
      .vecDot(col("x.embedding"), col("y.embedding")) /
      sqrt(col("x.nrm") * col("y.nrm"))
    withCentroids(spark, staged, centroids) { cents =>
      keepFirstInto(spark, staged, storeDir, glob, runTag, "delta",
          "vec_id", Seq("cell"), cos >= SimOps.ClusterCosThreshold) { batch =>
        SimOps.ivfAssign(SimOps.withNorm(batch), cents)
      }
    }
  }

  /** The image-hash twin of [[stageVecSliceFiles]]: the 256-bit
    * perceptual hashes of the REAL decoded fixture PNGs
    * ([[graft.ops.MultiModalOps.mmImagePhash256]] — the decode is the
    * stateless upstream map a production pipeline runs before the
    * maintenance stream), replayed as `nFiles` id-ordered micro-batch
    * files. */
  private[graft] def stagePhashSliceFiles(
      spark: SparkSession, sfDir: String, nFiles: Int): String =
    stageSliceFiles(spark, sfDir, nFiles, s"phashslice_$nFiles",
      graft.ops.MultiModalOps.mmImagePhash256(spark, sfDir)
        .select("doc_id", "phash256"), "doc_id")

  /** Streaming IMAGE near-dup maintenance — the ONLINE twin of
    * [[graft.ops.MultiModalOps.mmImageNeardupMi]], the generation-swap
    * band-store pattern over the 16×16-bit multi-index band keys: each
    * micro-batch of (doc_id, phash256) rows is band-exploded with the
    * SAME banding as the batch operator (a pair collides here iff it
    * collides there; pigeonhole keeps the probe lossless at hamming
    * ≤ 15), probed against the persisted band store plus the batch's own
    * lower ids, and a new image with a SMALLER-doc_id near-dup (hamming
    * ≤ 15; store row or same-batch row alike — the id total order is the
    * precedence rule, equal to arrival order when ids are stamped
    * monotonically with ingestion, the [[semanticDedupMaintainInto]]
    * doctrine) is flagged dropped. A smaller-id near-dup counts kept or
    * DROPPED alike (the chain-free [[incrementalDedupInto]] rule).
    * Store rows are `batch_<tag>_<id>` overwrite deltas — replay
    * idempotent by batch id — compacted by the shared
    * [[maybeCompactBandStore]] policy; per-batch cost is new-bands ×
    * matching buckets, the historical corpus touched through the band
    * join only, never re-hashed. */
  def phashDedupMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stagePhashSliceFiles(spark, sfDir, 4)
    val storeDir = tempStore("graft_phash_dedup", "phash_store")
    phashDedupMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    readPhashStore(spark, storeDir)
  }

  /** The maintained phash band store read back (16 band rows per doc). */
  private[graft] def readPhashStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(storeDir)
      .select("doc_id", "phash256", "band_idx", "band", "kept")

  private[graft] def phashDedupMaintainInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String): Unit = {
    // same packed-long xor+bit_count verify as the batch op (the
    // store keeps the portable bit string; packing is a per-row map
    // on the join inputs, never a schema change)
    def packed(side: String) = transform(sequence(lit(0), lit(3)),
      i => shiftleft(conv(col(s"$side.phash256").substr(i * 64 + 1, lit(32)), 2, 10)
          .cast("long"), 32)
        .bitwiseOR(conv(col(s"$side.phash256").substr(i * 64 + 33, lit(32)), 2, 10)
          .cast("long")))
    val ham = (1 to 4).map { i =>
      bit_count(element_at(packed("x"), i).bitwiseXOR(element_at(packed("y"), i)))
    }.reduce(_ + _)
    keepFirstInto(spark, staged, storeDir, glob, runTag, "batch",
        "doc_id", Seq("band_idx", "band"), ham <= 15) { batch =>
      batch.select(col("doc_id"), col("phash256"),
        posexplode(transform(sequence(lit(0), lit(15)),
          b => col("phash256").substr(b * 16 + 1, lit(16))))
          .as(Seq("band_idx", "band")))
    }
  }

  /** Streaming PQ-CODEBOOK drift monitoring — the maintenance signal the
    * fitted tier ([[graft.ops.SimOps.annPqAdcFitted]]) needs in
    * production: a serving PQ index runs a FROZEN codebook, and as the
    * embedding distribution drifts the book's quantization error rises —
    * the standard refit trigger watches per-slice mean distortion
    * against the reference slice. Each micro-batch of vectors is encoded
    * under the frozen book (the SAME [[graft.ops.SimOps.pqCoded]] argmin
    * as the batch tier; distortion = the argmin's residual L2 summed
    * over subspaces), the per-batch contribution floor-quantizes to the
    * 2⁻²⁰ grid as ADDITIVE LONGS (the [[bpeTokenMaintainInto]] counter
    * doctrine: overwrite-by-batch-id deltas, so at-least-once replay
    * cannot double a count), and per-half mean distortion (reference =
    * vec_id ≤ cut, current = vec_id > cut — the [[ksDriftMaintainInto]]
    * snapshot-cut convention) is recomputed ON READ from the compact
    * counter store (2 rows per delta, |slices| rows after rollup —
    * independent of corpus size). The frozen book defaults to the
    * full-corpus fit as a fixture stand-in for the externally supplied
    * production book (the [[semanticDedupMaintainInto]] provenance
    * convention). StreamingSpec pins equality to the one-shot batch
    * encode and replay idempotence. */
  def pqDriftMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageVecSliceFiles(spark, sfDir, 4)
    val storeDir = tempStore("graft_pqdrift_maint", "pq_store")
    pqDriftMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    readPqDriftStore(spark, storeDir)
  }

  /** The counter store rolled up to (slice, n_vectors, mean_distortion):
    * exact long sums first, then the two pinned IEEE divisions. */
  private[graft] def readPqDriftStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(storeDir)
      .groupBy("slice")
      .agg(sum("qd").as("qd"), sum("n").as("n_vectors"))
      .select(col("slice"), col("n_vectors"),
        ((col("qd").cast("double") / lit(1048576.0)) / col("n_vectors"))
          .as("mean_distortion"))
      .orderBy("slice")

  /** One stream run of the distortion-counter maintenance; `codebook`
    * is the frozen quantizer (None = fit on the full staged corpus — a
    * fixture stand-in, see run doc). */
  private[graft] def pqDriftMaintainInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String,
      codebook: Option[Map[(Int, Int), Seq[Double]]] = None): Unit = {
    import graft.ops.SimOps
    val cb = codebook.getOrElse(
      SimOps.pqFitCodebook(spark.read.parquet(staged)))
    val cut = spark.read.parquet(staged)
      .agg(expr("max(vec_id) DIV 2")).collect()(0).getLong(0)
    maintain(spark, staged, storeDir, glob, runTag) { (batch, _) =>
      SimOps.pqCoded(batch, col("embedding"), cb)
        .select(
          when(col("vec_id") <= cut, lit("reference"))
            .otherwise(lit("current")).as("slice"),
          floor((col("dist0") + col("dist1") + col("dist2") + col("dist3"))
            * lit(1048576.0)).as("qd"))
        .groupBy("slice")
        .agg(sum("qd").as("qd"), count(lit(1)).as("n"))
    }
  }

  /** Streaming DRIFT monitoring — [[graft.ops.ProfileOps.qualityKsDrift]]'s
    * two-sample KS gate maintained incrementally: each micro-batch adds
    * its per-(source, token-count) conditional counts to the store as an
    * idempotent-by-batch-id delta (the [[bpeTokenMaintainInto]] counter
    * doctrine — a re-executed batch overwrites its own delta, so
    * at-least-once replay cannot double the additive longs), and the KS
    * statistic is recomputed ON READ from the compact support store via
    * the SAME [[graft.ops.ProfileOps.ksFromCounts]] rollup as the batch
    * op. The stream is stateless; the store is |sources|·|support| rows
    * total, independent of batch count after rollup. Final table EXACTLY
    * equals the one-shot batch answer because the counts are additive
    * longs over disjoint slices and the cut is data-derived once from
    * the full staged corpus (StreamingSpec pins equality + replay
    * idempotence). */
  def ksDriftMaintainRun(spark: SparkSession, sfDir: String): DataFrame = {
    val staged = stageDocSliceFiles(spark, sfDir, 4, Seq("doc_id", "source", "text"))
    val storeDir = tempStore("graft_ks_maint", "ks_store")
    ksDriftMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    readKsStore(spark, storeDir)
  }

  /** The count store rolled up to the per-source KS table. */
  private[graft] def readKsStore(spark: SparkSession, storeDir: String): DataFrame =
    graft.ops.ProfileOps.ksFromCounts(
      spark.read.option("recursiveFileLookup", "true").parquet(storeDir)
        .groupBy("source", "v")
        .agg(sum("c1").cast("long").as("c1"), sum("c2").cast("long").as("c2")))

  /** One stream run of the KS count maintenance over the staged files
    * matching `glob`, writing per-batch delta subdirs under `storeDir`. */
  private[graft] def ksDriftMaintainInto(
      spark: SparkSession, staged: String, storeDir: String,
      glob: String, runTag: String): Unit = {
    // the snapshot cut is a property of the corpus, derived once up
    // front (the batch op's max(doc_id) DIV 2) — in production this is
    // the snapshot boundary the ingest job already knows
    val cut = spark.read.parquet(staged)
      .agg(expr("max(doc_id) DIV 2")).collect()(0).getLong(0)
    maintain(spark, staged, storeDir, glob, runTag) { (batch, _) =>
      batch
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("v"))
        .groupBy("source", "v")
        .agg(count(when(col("doc_id") <= cut, 1)).as("c1"),
          count(when(col("doc_id") > cut, 1)).as("c2"))
    }
  }

  /** STORE COMPACTION for the keep-first stores (band, semantic, phash)
    * — the maintenance op a long-running stream needs: appends leave one
    * generation subdir per micro-batch, so at a daily drop for years the store's listing
    * and open-file cost grows O(batches) even though its DATA is O(docs)
    * (round-9 verdict residual #3). Rewrites every current generation
    * subdir into ONE `compact_<n>` generation of `targetFiles` shards
    * and deletes the consumed subdirs — after which the store is
    * O(targetFiles) files regardless of how many batches built it.
    *
    * Content-preserving BY CONSTRUCTION: the rewrite is read-all →
    * distinct → write; `distinct` also heals any duplicate rows a
    * previous partially-failed compaction could have left (each row is
    * unique per (doc, band) or per vector in a healthy store, so
    * distinct is the identity there). Crash-safety ordering: stage to
    * `_compact_tmp` (underscore-prefixed — invisible to store readers),
    * rename into place, THEN delete consumed dirs. A crash between
    * rename and deletes leaves duplicates, which match identically
    * (dedup joins are distinct-ed) and are healed by the next
    * compaction; data is never in only the deleted copy. Run between stream runs — the
    * same slot a production maintenance job occupies.
    *
    * Returns the number of data files in the compacted store. */
  def compactBandStore(spark: SparkSession, storeDir: String, targetFiles: Int): Int = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val consumed = fs.listStatus(root).collect {
      case s if s.isDirectory && !s.getPath.getName.startsWith("_") => s.getPath
    }
    require(consumed.nonEmpty, s"nothing to compact under $storeDir")
    val nextGen = 1 + consumed.map(_.getName).collect {
      case n if n.startsWith("compact_") => n.stripPrefix("compact_").toInt
    }.foldLeft(0)(math.max)
    val tmp = new org.apache.hadoop.fs.Path(root, "_compact_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true) // stale from a prior crash
    spark.read.parquet(consumed.map(_.toString).toSeq: _*)
      .distinct()
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    val dest = new org.apache.hadoop.fs.Path(root, s"compact_$nextGen")
    require(fs.rename(tmp, dest), s"rename $tmp -> $dest failed")
    consumed.foreach(p => fs.delete(p, true))
    fs.listStatus(dest).count(_.getPath.getName.endsWith(".parquet"))
  }
}
