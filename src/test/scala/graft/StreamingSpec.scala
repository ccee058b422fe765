package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import scala.jdk.CollectionConverters._

class StreamingSpec extends SparkSpec {

  // the fixture has no 256-bit pairs at hamming <= 15 (the tier's
  // sparsity is its point), so the phash store tests plant them:
  // identical texts -> identical rasters -> hamming-0 pairs; a perturbed
  // twin and an unrelated doc keep the keep branch populated
  private val PlantedPhashTexts = {
    val twin = "stream me a raster that collides with its twin exactly !!"
    Seq(twin, twin, twin, twin.replace('s', 't'),
      "a wholly different text with its own geometry and content")
  }

  /** A documents-only fixture dir holding `texts` as doc_ids 0.. */
  private def plantPhashCorpus(prefix: String, texts: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("streaming tumbling window equals the batch time_tumbling result") {
    val streamed = StreamOps.runToTable(
      StreamOps.tumblingCounts(spark, sf), "stream_tumbling", OutputMode.Complete())
      .orderBy("hour_start", "event_type")
      .collect()
    val batch = q("time_tumbling").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[java.sql.Timestamp]("hour_start") === b.getAs[java.sql.Timestamp]("hour_start"))
      assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") === b.getAs[Long]("n"))
      assert(math.abs(s.getAs[Double]("sum_value") - b.getAs[Double]("sum_value")) < 1e-9)
    }
  }

  test("streaming sliding window equals the batch hopping_window result") {
    val streamed = StreamOps.runToTable(
      StreamOps.hoppingCounts(spark, sf), "stream_hopping", OutputMode.Complete())
      .orderBy("win_start", "event_type")
      .collect()
    val batch = q("hopping_window").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[java.sql.Timestamp]("win_start") === b.getAs[java.sql.Timestamp]("win_start"))
      assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") === b.getAs[Long]("n"))
      assert(s.getAs[Double]("sum_value") === b.getAs[Double]("sum_value"))
    }
  }

  test("streaming session_window equals the batch session_window_native result") {
    val streamed = StreamOps.runToTable(
      StreamOps.sessionWindowCounts(spark, sf), "stream_session_window",
      OutputMode.Complete())
      .select(col("user_id"), col("n_events"),
        ((col("last_us") - col("first_us")) / 1000000L).cast("long").as("span_sec"),
        col("first_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batchWithStart = q("session_window_native").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("span_sec")))
    // the batch face drops first_us for its session-index key; compare as
    // multisets of (user, n_events, span) plus matching session counts
    assert(streamed.size === batchWithStart.length)
    val streamBag = streamed.toSeq.map(t => (t._1, t._2, t._3))
      .groupBy(identity).view.mapValues(_.size).toMap
    val batchBag = batchWithStart.toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(streamBag === batchBag)
  }

  test("flatMapGroupsWithState session log equals the batch closed-session set") {
    val streamed = StreamOps.runToTable(
      StreamOps.sessionLogStream(spark, sf).toDF(),
      "stream_session_log", OutputMode.Append())
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start").getTime,
        r.getAs[java.sql.Timestamp]("session_end").getTime,
        r.getAs[Long]("n_events")))
    // batch twin: fold each user's sorted events with the same 30-min gap
    // rule; the trailing (still-open) session per user is NOT emitted by
    // the stream, so drop it here too
    val gapMs = 1800L * 1000L
    val expected = Tables.events(spark, sf).select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Timestamp](1).getTime))
      .groupBy(_._1).toSeq.flatMap { case (u, evs) =>
        val ts = evs.map(_._2).sorted
        val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var start = ts.head; var last = ts.head; var n = 1L
        ts.tail.foreach { t =>
          if (t - last <= gapMs) { last = t; n += 1 }
          else { sessions += ((u, start, last, n)); start = t; last = t; n = 1L }
        }
        sessions.toSeq // open trailing session intentionally excluded
      }
    assert(streamed.sorted.toSeq === expected.sorted.toSeq)
    assert(streamed.nonEmpty)
  }

  test("watermarked dedup removes duplicated arrivals: counts equal the batch per-type counts") {
    // the stream unions two replicas of the file source (at-least-once
    // delivery); dropDuplicatesWithinWatermark must collapse them back to
    // exactly the batch cardinality per event type
    val streamed = StreamOps.runToTable(
      StreamOps.dedupWithinWatermarkStream(spark, sf),
      "stream_dedup_wm", OutputMode.Complete())
      .orderBy("event_type").collect()
    val batch = Tables.events(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") === b.getAs[Long]("n"))
    }
  }

  test("streaming dedup equals the batch per-source distinct count") {
    val streamed = StreamOps.runToTable(
      StreamOps.dedupStream(spark, sf), "stream_dedup", OutputMode.Complete())
      .orderBy("source").collect()
    val batch = Tables.documents(spark, sf)
      .select(col("source"), md5(col("text")).as("digest")).distinct()
      .groupBy("source").agg(count(lit(1)).as("n_distinct_docs"))
      .orderBy("source").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("source") === b.getAs[String]("source"))
      assert(s.getAs[Long]("n_distinct_docs") === b.getAs[Long]("n_distinct_docs"))
    }
  }

  test("stream-static broadcast enrichment equals the batch join") {
    val streamed = StreamOps.runToTable(
      StreamOps.enrichedCounts(spark, sf), "stream_enrich", OutputMode.Complete())
      .orderBy("event_type", "heavy_user").collect()
    val batch = Tables.events(spark, sf)
      .join(StreamOps.userProfile(spark, sf), "user_id")
      .withColumn("heavy_user", col("n_hist") >= 75)
      .groupBy("event_type", "heavy_user")
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "heavy_user").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
      assert(s.getAs[Boolean]("heavy_user") === b.getAs[Boolean]("heavy_user"))
      assert(s.getAs[Long]("n") === b.getAs[Long]("n"))
    }
  }

  test("watermarked stream-stream join equals the batch time-range join") {
    val streamed = StreamOps.runToTable(
      StreamOps.purchaseAfterClick(spark, sf), "stream_ssj", OutputMode.Append())
    val ev = Tables.events(spark, sf)
    val batch = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .join(ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("purchase_ts")),
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_ts"), col("purchase_ts"))
    assert(streamed.count() > 0)
    assert(streamed.count() === batch.count())
    // exact multiset equality, both directions
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("stateful streaming sessionization equals the batch sessionize result") {
    import spark.implicits._
    val streamed = StreamOps.runToTable(
      StreamOps.sessionizeStream(spark, sf).toDF(), "stream_sessions", OutputMode.Update())
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
    val batch = q("sessionize")
    val mism = streamed.as("s").join(batch.as("b"), Seq("user_id"))
      .filter(col("s.n_sessions") =!= col("b.n_sessions") ||
        col("s.n_events") =!= col("b.n_events"))
      .count()
    assert(mism === 0)
    assert(streamed.count() === batch.count())
  }

  test("watermarked dedup EVICTS state across micro-batches: bounded state, batch-equal counts") {
    // time-ordered replay, one file per trigger: the watermark advances
    // every micro-batch, so eviction actually FIRES — unlike the
    // single-batch replay above, where it is vacuous by construction
    // (round-8 verdict, next-round #5)
    val staged = StreamOps.stageTimeOrderedEventFiles(spark, sf, 8)
    val stream = StreamOps.dedupWithinWatermarkReplay(spark, staged)
    val query = stream.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("stream_dedup_evict").start()
    val stateRows =
      try {
        query.processAllAvailable()
        query.recentProgress.toSeq
          .flatMap(_.stateOperators.toSeq)
          .filter(_.operatorName == "dedupeWithinWatermark")
          .map(_.numRowsTotal)
      } finally query.stop()
    val nDistinct = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(stateRows.size >= 8, s"expected ≥8 micro-batches, saw ${stateRows.size}")
    assert(stateRows.max > 0)
    // the bound that plain dropDuplicates CANNOT meet: its state is the
    // all-time key set, so by the last batch numRowsTotal == nDistinct.
    // With watermark eviction the store holds ~1 slice (plus the not-yet-
    // evicted tail of the previous one) — far below the distinct count.
    assert(stateRows.max < nDistinct / 2,
      s"state not evicted: max=${stateRows.max} of $nDistinct all-time keys")
    // and the dedup is still correct: final counts equal batch exactly
    val streamed = spark.table("stream_dedup_evict")
      .orderBy("event_type").collect()
    val batch = Tables.events(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") === b.getAs[Long]("n"))
    }
  }

  test("LEFT OUTER stream-stream join: matches emit on arrival, null rows emit on state expiry, equals batch below the watermark") {
    val staged = StreamOps.stageTimeOrderedEventFiles(spark, sf, 8,
      Seq("event_id", "ts", "user_id", "event_type"))
    val stream = StreamOps.clickPurchaseOuterReplay(spark, staged)
    val query = stream.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_outer_join").start()
    val finalWatermark =
      try {
        query.processAllAvailable()
        java.time.Instant.parse(
          query.lastProgress.eventTime.get("watermark")).toEpochMilli * 1000L
      } finally query.stop()
    val streamed = spark.table("stream_outer_join")

    // batch twin of the same join
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("click_ts"), col("purchase_ts"))

    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(1), Option(r.get(3)).map(_.toString).getOrElse("<null>"))

    // MATCHED pairs emit the moment the purchase arrives — no watermark
    // latency, so the full matched sets are equal even at the tail
    val gotMatched = streamed.filter(col("purchase_ts").isNotNull).collect().map(key).toSet
    val wantMatched = batch.filter(col("purchase_ts").isNotNull).collect().map(key).toSet
    assert(gotMatched === wantMatched)

    // NULL rows emit only when the click's join window falls below the
    // final watermark (read from the query's own progress — max ts − 1 h
    // delay); below that cutoff the outer join equals batch EXACTLY, and
    // beyond it the null rows are still held in state — a drained stream
    // is not a finished one
    val cutoff = finalWatermark - 30L * 60L * 1000000L - 1000000L // window + 1s slack
    val below = col("click_ts") < timestamp_micros(lit(cutoff))
    val gotBelow = streamed.filter(below).collect().map(key).toSet
    val wantBelow = batch.filter(below).collect().map(key).toSet
    assert(gotBelow === wantBelow)
    // and expiry-driven null emission actually happened
    val nullsBelow = streamed.filter(below && col("purchase_ts").isNull).count()
    assert(nullsBelow > 0, "no expiry-emitted null rows — outer semantics untested")
  }

  test("watermarked dedup on the RocksDB state store: provider active, batch-equal counts") {
    // The 100-TB state backend: HDFSBackedStateStoreProvider keeps every
    // key on the executor HEAP (a JVM-size ceiling a large keyspace
    // blows through, plus full-map GC pressure); RocksDBStateStoreProvider
    // spills state to native memory + local SSD with changelog
    // checkpointing, so state capacity scales with disk, not heap. Spark
    // ships rocksdbjni — the swap is ONE conf. Same replay as the
    // eviction test; the assertions pin (a) the provider actually served
    // the query (rocksdb custom metrics present and the store reported
    // usage), (b) results stay batch-equal — the backend is a capacity
    // decision, invisible to semantics.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val staged = StreamOps.stageTimeOrderedEventFiles(spark, sf, 8)
      val stream = StreamOps.dedupWithinWatermarkReplay(spark, staged)
      val query = stream.writeStream.outputMode(OutputMode.Complete())
        .format("memory").queryName("stream_dedup_rocksdb").start()
      val ops =
        try {
          query.processAllAvailable()
          query.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
            .filter(_.operatorName == "dedupeWithinWatermark")
        } finally query.stop()
      assert(ops.nonEmpty)
      // provider proof: rocksdb-specific custom metrics, with real traffic
      val custom = ops.flatMap(_.customMetrics.asScala)
      val rocksKeys = custom.map(_._1).filter(_.toLowerCase.contains("rocksdb"))
      assert(rocksKeys.nonEmpty, s"no rocksdb metrics — provider not active; saw: ${
        custom.map(_._1).distinct.sorted.take(10).mkString(", ")}")
      val sstOrMem = custom.filter { case (k, _) =>
        k == "rocksdbTotalMemoryUsageBytes" || k == "rocksdbPutCount" }
      assert(sstOrMem.exists(_._2.longValue > 0L),
        s"rocksdb metrics all zero: ${sstOrMem.mkString(", ")}")
      // semantics unchanged by the backend
      val streamed = spark.table("stream_dedup_rocksdb")
        .orderBy("event_type").collect()
      val batch = Tables.events(spark, sf)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").collect()
      assert(streamed.length === batch.length)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
        assert(s.getAs[Long]("n") === b.getAs[Long]("n"))
      }
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("incremental near-dup maintenance equals the batch drop-if-any-earlier-match rule") {
    // the production corpus-maintenance pattern: each slice is signed,
    // banded and compared against the persisted band store ONLY — the
    // historical corpus is never re-signed. Kept set must equal the
    // batch rule derived from dedup_minhash_lsh's verified pairs
    // (emitted doc_a < doc_b): kept = all − {doc_b of any pair}
    val store = StreamOps.incrementalDedupRun(spark, sf).cache()
    try {
      val kept = store.filter(col("kept")).select("doc_id")
        .distinct().collect().map(_.getLong(0)).toSet
      val allDocs = Tables.documents(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val droppedBatch = q("dedup_minhash_lsh")
        .select("doc_b").collect().map(_.getLong(0)).toSet
      assert(kept === (allDocs -- droppedBatch))
      // the rule actually fired (the fixture has near-dup families)
      assert(droppedBatch.nonEmpty && kept.size < allDocs.size)
      // append-only invariant: every document banded EXACTLY once — a
      // store-rewrite bug shows up as duplicated band rows (the
      // quadratic-I/O regression this run's design forbids)
      assert(store.count() === 16L * allDocs.size)
      assert(store.select("doc_id").distinct().count() === allDocs.size.toLong)
    } finally store.unpersist()
  }

  test("band-store compaction: bounded files, content-preserving, stream continues") {
    // the long-running-store lifecycle: run slices 1-2 into a fresh
    // store (one batch_* subdir per micro-batch), COMPACT, then run
    // slices 3-4 against the compacted store — the final kept set must
    // still equal the one-shot batch rule, and the store's file count
    // must be O(target), not O(batches)
    def subdirs(storeDir: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(storeDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
    }
    val staged = StreamOps.stageDocSliceFiles(spark, sf, 4)
    val storeDir = java.nio.file.Files.createTempDirectory("graft_inc_dedup_c")
      .resolve("band_store").toString
    StreamOps.incrementalDedupInto(spark, staged, storeDir, "b0[01].parquet", "s1")
    assert(subdirs(storeDir) === Seq("batch_s1_0", "batch_s1_1"))
    val before = StreamOps.readBandStore(spark, storeDir)
      .orderBy("doc_id", "band_idx").collect()
    // compact: content row-for-row identical, one generation dir,
    // file count at the target
    val nFiles = StreamOps.compactBandStore(spark, storeDir, 2)
    assert(nFiles === 2)
    assert(subdirs(storeDir) === Seq("compact_1"))
    val after = StreamOps.readBandStore(spark, storeDir)
      .orderBy("doc_id", "band_idx").collect()
    assert(after === before)
    // the stream CONTINUES against the compacted store: remaining slices
    // match history through the compact_1 generation
    StreamOps.incrementalDedupInto(spark, staged, storeDir, "b0[23].parquet", "s2")
    assert(subdirs(storeDir) === Seq("batch_s2_0", "batch_s2_1", "compact_1"))
    val store = StreamOps.readBandStore(spark, storeDir).cache()
    try {
      val kept = store.filter(col("kept")).select("doc_id")
        .distinct().collect().map(_.getLong(0)).toSet
      val allDocs = Tables.documents(spark, sf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val droppedBatch = q("dedup_minhash_lsh")
        .select("doc_b").collect().map(_.getLong(0)).toSet
      assert(kept === (allDocs -- droppedBatch))
      assert(store.count() === 16L * allDocs.size)
      // re-compact with everything in: the store stays bounded and the
      // kept set is untouched (idempotent maintenance)
      assert(StreamOps.compactBandStore(spark, storeDir, 2) === 2)
      assert(subdirs(storeDir) === Seq("compact_2"))
      val kept2 = StreamOps.readBandStore(spark, storeDir)
        .filter(col("kept")).select("doc_id")
        .distinct().collect().map(_.getLong(0)).toSet
      assert(kept2 === kept)
    } finally store.unpersist()
  }

  test("band store AUTO-compacts when generations exceed the conf threshold") {
    // round-10 verdict #4: compaction is a scheduled policy, not a
    // manually remembered maintenance call. With maxGenerations=2, a
    // 4-batch run must end with the store rewritten to one compact_*
    // generation — and the kept set must still equal the batch rule.
    // The semantic and phash keep-first stores run the same policy: each
    // ends with one compact_1 and the rows of an uncompacted run.
    def subdirs(storeDir: String): Seq[String] = {
      val root = new org.apache.hadoop.fs.Path(storeDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
    }
    def freshStore(prefix: String) =
      java.nio.file.Files.createTempDirectory(prefix).resolve("store").toString
    val vecStaged = StreamOps.stageVecSliceFiles(spark, sf, 4)
    val phashStaged = StreamOps.stagePhashSliceFiles(spark,
      plantPhashCorpus("graft_phash_auto", PlantedPhashTexts), 4)
    // (store, run into a dir, read-back ordered by its row key)
    val keepFirst = Seq[(String, String => Unit, String => Array[org.apache.spark.sql.Row])](
      ("semantic",
        dir => StreamOps.semanticDedupMaintainInto(spark, vecStaged, dir, "b*.parquet", "all"),
        dir => StreamOps.readSemStore(spark, dir).orderBy("vec_id").collect()),
      ("phash",
        dir => StreamOps.phashDedupMaintainInto(spark, phashStaged, dir, "b*.parquet", "all"),
        dir => StreamOps.readPhashStore(spark, dir).orderBy("doc_id", "band_idx").collect()))
    val uncompacted = keepFirst.map { case (name, into, read) =>
      val dir = freshStore(s"graft_${name}_plain")
      into(dir)
      assert(subdirs(dir).size === 4, s"$name: expected one generation per batch")
      name -> read(dir)
    }.toMap
    spark.conf.set("spark.graft.bandstore.maxGenerations", "2")
    try {
      val staged = StreamOps.stageDocSliceFiles(spark, sf, 4)
      val storeDir = java.nio.file.Files.createTempDirectory("graft_inc_dedup_a")
        .resolve("band_store").toString
      StreamOps.incrementalDedupInto(spark, staged, storeDir, "b*.parquet", "all")
      assert(subdirs(storeDir) === Seq("compact_1"))
      val store = StreamOps.readBandStore(spark, storeDir).cache()
      try {
        val kept = store.filter(col("kept")).select("doc_id")
          .distinct().collect().map(_.getLong(0)).toSet
        val allDocs = Tables.documents(spark, sf)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val droppedBatch = q("dedup_minhash_lsh")
          .select("doc_b").collect().map(_.getLong(0)).toSet
        assert(kept === (allDocs -- droppedBatch))
        assert(store.count() === 16L * allDocs.size)
      } finally store.unpersist()
      keepFirst.foreach { case (name, into, read) =>
        val dir = freshStore(s"graft_${name}_auto")
        into(dir)
        assert(subdirs(dir) === Seq("compact_1"), s"$name store not compacted")
        val got = read(dir)
        assert(got === uncompacted(name), s"$name rows changed by compaction")
        assert(got.exists(_.getAs[Boolean]("kept")) && got.exists(!_.getAs[Boolean]("kept")),
          s"$name: fixture exercises both keep and drop")
      }
    } finally spark.conf.unset("spark.graft.bandstore.maxGenerations")
  }

  test("a replay glob that matches no staged file fails loudly, for a delta store and for the fold") {
    val staged = StreamOps.stageDocSliceFiles(spark, sf, 4,
      Seq("doc_id", "source", "text"))
    val storeDir = java.nio.file.Files.createTempDirectory("graft_nomatch")
      .resolve("token_store").toString
    val delta = intercept[IllegalArgumentException] {
      StreamOps.bpeTokenMaintainInto(spark, staged, storeDir, "z*.parquet", "none")
    }
    assert(delta.getMessage.contains("no micro-batch ran"))
    assert(!new java.io.File(storeDir).exists, "a run with no batch wrote a store")
    val fold = intercept[IllegalArgumentException] {
      StreamOps.replayFold(spark, staged, "z*.parquet")((batch, _) => batch)
    }
    assert(fold.getMessage.contains("no micro-batch ran"))
  }

  test("foreachBatch incremental BPE token accounting equals the one-shot batch rollup") {
    // round-10 verdict #7: the additive-counter twin of the HLL
    // maintenance pattern, in the REAL token unit. Totals are additive
    // longs over disjoint slices, so streamed == batch exactly.
    val streamed = StreamOps.bpeTokenMaintainRun(spark, sf).collect()
    val batch = Tables.documents(spark, sf)
      .groupBy("source")
      .agg(sum(graft.functions.BpeFunctions.bpeTokenCount(col("text")))
        .cast("long").as("bpe_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy("source").collect()
    assert(streamed.length === batch.length && streamed.length >= 2)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("source") === b.getAs[String]("source"))
      assert(s.getAs[Long]("bpe_tokens") === b.getAs[Long]("bpe_tokens"))
      assert(s.getAs[Long]("n_docs") === b.getAs[Long]("n_docs"))
    }
  }

  test("BPE token store is replay-idempotent: a re-run batch replaces its delta") {
    // at-least-once delivery for an ADDITIVE counter store: re-running
    // the same slices under the same run tag overwrites the same
    // delta_<tag>_<id> subdirs, so totals cannot double
    val staged = StreamOps.stageDocSliceFiles(spark, sf, 4,
      Seq("doc_id", "source", "text"))
    val storeDir = java.nio.file.Files.createTempDirectory("graft_bpe_maint_r")
      .resolve("token_store").toString
    StreamOps.bpeTokenMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val first = StreamOps.readTokenStore(spark, storeDir).collect()
    StreamOps.bpeTokenMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val second = StreamOps.readTokenStore(spark, storeDir).collect()
    assert(second === first)
  }

  test("streamed BM25 stats maintenance scores bit-identically to the batch ranker") {
    val streamed = StreamOps.bm25StatsMaintainRun(spark, sf)
    // counter equality: the summed deltas ARE the one-shot batch stats
    val base = graft.ops.IrOps.docTermBase(
      Tables.documents(spark, sf).select("doc_id", "text"))
    val batchStats = graft.ops.IrOps.corpusStats(base)
    assert(streamed.columns.toSeq === batchStats.columns.toSeq)
    assert(streamed.collect().map(_.toSeq).toSeq ===
      batchStats.collect().map(_.toSeq).toSeq)
    // end-to-end: scoring with the MAINTAINED stats row reproduces the
    // registry bm25_rank top-50 exactly (scoreWithStats is the shared
    // definition, so this pins the whole serving path)
    val got = graft.ops.IrOps.scoreWithStats(base, streamed)
      .collect().map(_.toSeq).toSeq
    val want = q("bm25_rank").collect().map(_.toSeq).toSeq
    assert(got === want && want.nonEmpty)
  }

  test("BM25 stats store is replay-idempotent: a re-run batch replaces its delta") {
    val staged = StreamOps.stageDocSliceFiles(spark, sf, 4)
    val storeDir = java.nio.file.Files.createTempDirectory("graft_bm25_maint_r")
      .resolve("stats_store").toString
    StreamOps.bm25StatsMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val first = StreamOps.readBm25StatsStore(spark, storeDir).collect()
    StreamOps.bm25StatsMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val second = StreamOps.readBm25StatsStore(spark, storeDir).collect()
    assert(second === first)
  }

  test("streamed IVF index maintenance probes bit-identically to the batch index") {
    val streamed = StreamOps.ivfIndexMaintainRun(spark, sf).collect()
    val batch = SparkEntry.queries("ann_ivf_probe")(spark, sf).collect()
    assert(streamed.length === batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[Long]("query_id") === b.getAs[Long]("query_id"))
      assert(s.getAs[Long]("rnk") === b.getAs[Long]("rnk"))
      assert(s.getAs[Long]("neighbor_id") === b.getAs[Long]("neighbor_id"))
      assert(s.getAs[Long]("cell") === b.getAs[Long]("cell"))
      assert(s.getAs[Double]("cos") === b.getAs[Double]("cos"))
    }
  }

  test("IVF index store is replay-idempotent: a re-run batch replaces its delta") {
    val staged = StreamOps.stageVecSliceFiles(spark, sf, 4)
    val storeDir = java.nio.file.Files.createTempDirectory("graft_ivf_maint_r")
      .resolve("index_store").toString
    StreamOps.ivfIndexMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val first = StreamOps.readIvfIndexStore(spark, storeDir)
      .orderBy("vec_id").collect()
    StreamOps.ivfIndexMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val second = StreamOps.readIvfIndexStore(spark, storeDir)
      .orderBy("vec_id").collect()
    assert(second === first)
    // and the maintained index covers the whole corpus exactly once
    assert(first.length === Tables.embeddings(spark, sf).count())
  }

  test("streamed IVF-PQ codes maintenance probes bit-identically to the batch index") {
    val streamed = StreamOps.ivfPqIndexMaintainRun(spark, sf).collect()
    // ann_ivfpq IS ann_ivfpq_persist's probe (one oracle gates both), so
    // pinning against the inline tier pins against the at-rest build too
    val batch = SparkEntry.queries("ann_ivfpq")(spark, sf).collect()
    assert(streamed.length === batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[Long]("query_id") === b.getAs[Long]("query_id"))
      assert(s.getAs[Long]("rnk") === b.getAs[Long]("rnk"))
      assert(s.getAs[Long]("neighbor_id") === b.getAs[Long]("neighbor_id"))
      assert(s.getAs[Long]("cell") === b.getAs[Long]("cell"))
      assert(s.getAs[Double]("cos") === b.getAs[Double]("cos"))
    }
  }

  test("IVF-PQ codes store is replay-idempotent: a re-run batch replaces its delta") {
    val staged = StreamOps.stageVecSliceFiles(spark, sf, 4)
    val storeDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_maint_r")
      .resolve("codes_store").toString
    StreamOps.ivfPqIndexMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val first = StreamOps.readIvfIndexStore(spark, storeDir)
      .orderBy("vec_id").collect()
    StreamOps.ivfPqIndexMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val second = StreamOps.readIvfIndexStore(spark, storeDir)
      .orderBy("vec_id").collect()
    assert(second === first)
    // the maintained codes cover the whole corpus exactly once, and
    // every row carries a valid 3-bit code per subspace
    assert(first.length === Tables.embeddings(spark, sf).count())
    first.foreach { r =>
      (0 to 3).foreach { m =>
        val c = r.getAs[Long](s"code$m")
        assert(c >= 0L && c < 8L, s"code$m out of range: $c")
      }
    }
  }

  test("streamed semantic dedup equals the arrival-order keep-first replay") {
    val got = StreamOps.semanticDedupMaintainRun(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cell"), r.getAs[Boolean]("kept")))).toMap
    // independent replay of the online rule: kept(v) iff NO u < v in the
    // same cell with cos >= threshold (earlier kept OR dropped — the
    // chain-free incremental rule, which also makes the decision
    // independent of micro-batch boundaries)
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def dotLR(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = vecs.map { case (id, d) => id -> dotLR(d, d) }.toMap
    val cents = vecs.filter(_._1 % 32 == 0)
    val cell = vecs.map { case (id, d) =>
      id -> cents.map { case (cid, ce) =>
        (dotLR(d, ce) / math.sqrt(nrm(id) * nrm(cid)), cid)
      }.minBy { case (c, cid) => (-c, cid) }._2
    }.toMap
    val want = vecs.map { case (id, d) =>
      val dup = vecs.exists { case (u, du) =>
        u < id && cell(u) == cell(id) &&
          dotLR(du, d) / math.sqrt(nrm(u) * nrm(id)) >=
            ops.SimOps.ClusterCosThreshold
      }
      id -> ((cell(id), !dup))
    }.toMap
    assert(got === want)
    assert(got.values.exists(_._2) && got.values.exists(!_._2),
      "fixture exercises both keep and drop")
  }

  test("semantic dedup store is replay-idempotent: a re-run batch replaces its delta") {
    val staged = StreamOps.stageVecSliceFiles(spark, sf, 4)
    val storeDir = java.nio.file.Files.createTempDirectory("graft_sem_dedup_r")
      .resolve("sem_store").toString
    StreamOps.semanticDedupMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val first = StreamOps.readSemStore(spark, storeDir).orderBy("vec_id").collect()
    StreamOps.semanticDedupMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val second = StreamOps.readSemStore(spark, storeDir).orderBy("vec_id").collect()
    assert(second === first)
    assert(first.length === Tables.embeddings(spark, sf).count())
  }

  test("streamed phash near-dup maintenance equals the batch pair rule on a planted corpus") {
    val dir = plantPhashCorpus("graft_phash_stream", PlantedPhashTexts)
    val got = StreamOps.phashDedupMaintainRun(spark, dir)
      .select("doc_id", "kept").distinct().collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // batch rule: kept = all - {b of any verified pair (a < b)} — the
    // drop-if-any-earlier-match rule derived from the batch operator
    val pairs = SparkEntry.queries("mm_image_neardup_mi")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val droppedWant = pairs.map(_._2).toSet
    val all = SparkEntry.queries("mm_image_phash256")(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val want = all.map(id => id -> !droppedWant(id)).toMap
    assert(got === want)
    assert(got.values.exists(identity) && got.values.exists(!_),
      "planted corpus must exercise both keep and drop")
    // the store carries the full band layout: 16 rows per doc
    assert(StreamOps.phashDedupMaintainRun(spark, dir).count() === all.size * 16L)
  }

  test("phash near-dup store is replay-idempotent: a re-run batch replaces its delta") {
    val dir = plantPhashCorpus("graft_phash_stream_r", Seq(
      "replay me a raster that collides with its twin exactly !",
      "replay me a raster that collides with its twin exactly !",
      "something else entirely for the keeper branch to chew on"))
    val staged = StreamOps.stagePhashSliceFiles(spark, dir, 3)
    val storeDir = java.nio.file.Files.createTempDirectory("graft_phash_store_r")
      .resolve("phash_store").toString
    StreamOps.phashDedupMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val first = StreamOps.readPhashStore(spark, storeDir)
      .orderBy("doc_id", "band_idx").collect()
    StreamOps.phashDedupMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val second = StreamOps.readPhashStore(spark, storeDir)
      .orderBy("doc_id", "band_idx").collect()
    assert(second === first)
    assert(first.length === 3 * 16)
  }

  test("foreachBatch PQ-codebook drift monitor equals the one-shot batch encode") {
    // additive quantized-distortion longs over disjoint slices: the
    // rolled-up per-half mean must equal encoding the whole corpus in
    // one pass under the SAME frozen book
    val streamed = StreamOps.pqDriftMaintainRun(spark, sf).collect()
    assert(streamed.map(_.getAs[String]("slice")).toSeq === Seq("current", "reference"))
    val v = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val cb = ops.SimOps.pqFitCodebook(v)
    val cut = v.agg(expr("max(vec_id) DIV 2")).collect()(0).getLong(0)
    val batch = ops.SimOps.pqCoded(v, col("embedding"), cb)
      .select(
        when(col("vec_id") <= cut, lit("reference"))
          .otherwise(lit("current")).as("slice"),
        floor((col("dist0") + col("dist1") + col("dist2") + col("dist3"))
          * lit(1048576.0)).as("qd"))
      .groupBy("slice")
      .agg(sum("qd").as("qd"), count(lit(1)).as("n"))
      .select(col("slice"), col("n").as("n_vectors"),
        ((col("qd").cast("double") / lit(1048576.0)) / col("n"))
          .as("mean_distortion"))
      .orderBy("slice").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    // both halves populated — the monitor is non-degenerate on the fixture
    streamed.foreach(r => assert(r.getAs[Long]("n_vectors") > 0))
  }

  test("PQ drift store is replay-idempotent: a re-run batch replaces its delta") {
    val staged = StreamOps.stageVecSliceFiles(spark, sf, 4)
    val storeDir = java.nio.file.Files.createTempDirectory("graft_pqdrift_r")
      .resolve("pq_store").toString
    // frozen book passed EXPLICITLY (the production shape): both runs
    // must see the same quantizer for the idempotence claim to be about
    // the STORE, not the fit
    val cb = ops.SimOps.pqFitCodebook(
      spark.read.parquet(staged).select("vec_id", "embedding"))
    StreamOps.pqDriftMaintainInto(spark, staged, storeDir, "b*.parquet", "all", Some(cb))
    val first = StreamOps.readPqDriftStore(spark, storeDir).collect()
    StreamOps.pqDriftMaintainInto(spark, staged, storeDir, "b*.parquet", "all", Some(cb))
    val second = StreamOps.readPqDriftStore(spark, storeDir).collect()
    assert(second === first)
  }

  test("foreachBatch incremental KS drift monitor equals the one-shot batch statistic") {
    // the drift-gate twin of the token-accounting pattern: per-batch
    // (source, value) conditional counts are additive longs over
    // disjoint slices and the snapshot cut is corpus-derived once, so
    // the KS table recomputed from the maintained store == the batch op
    val streamed = StreamOps.ksDriftMaintainRun(spark, sf).collect()
    val batch = SparkEntry.queries("quality_ks_drift")(spark, sf).collect()
    assert(streamed.length === batch.length && streamed.length >= 2)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("source") === b.getAs[String]("source"))
      assert(s.getAs[Long]("n_old") === b.getAs[Long]("n_old"))
      assert(s.getAs[Long]("n_new") === b.getAs[Long]("n_new"))
      assert(s.getAs[Long]("d_num") === b.getAs[Long]("d_num"))
      assert(s.getAs[Double]("ks_stat") === b.getAs[Double]("ks_stat"))
    }
  }

  test("KS drift store is replay-idempotent: a re-run batch replaces its delta") {
    val staged = StreamOps.stageDocSliceFiles(spark, sf, 4,
      Seq("doc_id", "source", "text"))
    val storeDir = java.nio.file.Files.createTempDirectory("graft_ks_maint_r")
      .resolve("ks_store").toString
    StreamOps.ksDriftMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val first = StreamOps.readKsStore(spark, storeDir).collect()
    StreamOps.ksDriftMaintainInto(spark, staged, storeDir, "b*.parquet", "all")
    val second = StreamOps.readKsStore(spark, storeDir).collect()
    assert(second === first)
  }

  test("Trigger.AvailableNow backfill: self-terminating, rate-limited, batch-equal") {
    // The production BACKFILL pattern: process everything that exists
    // now, in bounded micro-batches (maxFilesPerTrigger is respected,
    // unlike one-shot Trigger.Once), then STOP on its own — no
    // processAllAvailable babysitting, which is exactly what a scheduled
    // catch-up job needs. Same watermarked dedup pipeline as the
    // eviction test; the assertions pin self-termination, multi-batch
    // rate limiting, and batch-equal results.
    val staged = StreamOps.stageTimeOrderedEventFiles(spark, sf, 8)
    val stream = StreamOps.dedupWithinWatermarkReplay(spark, staged)
    val query = stream.writeStream.outputMode(OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory").queryName("stream_availablenow").start()
    val terminated = query.awaitTermination(120000)
    val nBatches =
      try {
        assert(terminated, "AvailableNow query did not self-terminate")
        query.recentProgress.count(_.numInputRows > 0)
      } finally query.stop()
    assert(nBatches >= 8, s"rate limit ignored: only $nBatches data batches for 8 files")
    val streamed = spark.table("stream_availablenow").orderBy("event_type").collect()
    val batch = Tables.events(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
      assert(s.getAs[Long]("n") === b.getAs[Long]("n"))
    }
  }

  test("foreachBatch incremental MERGE equals the one-shot batch aggregate") {
    val store = StreamOps.upsertMergeRun(spark, sf)
    // four staged slices, four generations: only the last stays on disk
    val stateRoot = new java.io.File(new java.net.URI(store.inputFiles.head))
      .getParentFile.getParentFile
    assert(stateRoot.list().filter(_.startsWith("gen_")).toSeq === Seq("gen_3"))
    val streamed = store.orderBy("u_custkey").collect()
    val batch = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "O")
      .groupBy(col("o_custkey").as("u_custkey"))
      .agg(count(lit(1)).as("n_open"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(28,2)").as("open_spend"))
      .orderBy("u_custkey").collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[Long]("u_custkey") === b.getAs[Long]("u_custkey"))
      assert(s.getAs[Long]("n_open") === b.getAs[Long]("n_open"))
      // DECIMAL partials: exact across batch boundaries, so exact equality
      assert(s.getAs[java.math.BigDecimal]("open_spend") ===
        b.getAs[java.math.BigDecimal]("open_spend"))
    }
  }

  test("foreachBatch incremental HLL maintenance equals the one-shot sketch build") {
    // streaming sketch maintenance (round-8 verdict, next-round #8):
    // per-batch sketches union-merged into a persisted store, one
    // time-slice file per trigger, each slice delivered TWICE. Register-
    // wise max is associative/commutative and insertion is idempotent,
    // so the final estimates must EXACTLY equal the one-shot build over
    // the raw table — across any slicing and despite the duplicates.
    val streamed = StreamOps.hllSketchMaintainRun(spark, sf)
      .orderBy("event_type").collect()
    val batch = graft.ops.SketchOps.hllUserSketches(spark, sf)
      .orderBy("event_type").collect()
    assert(streamed.length === batch.length)
    assert(streamed.length >= 2) // at least one event_type + __ALL__
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getAs[String]("event_type") === b.getAs[String]("event_type"))
      assert(s.getAs[Long]("approx_users") === b.getAs[Long]("approx_users"))
    }
  }
}
