package graft

import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {

  test("word_count total equals exploded token count") {
    val total = q("word_count").agg(sum("n")).collect()(0).getLong(0)
    val tokens = q("tokenize").count()
    assert(total === tokens)
  }

  test("dedup_recall_eval equals the intersection of its two source tiers") {
    val truth = q("dedup_ngram_jaccard").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = q("dedup_minhash_lsh").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = q("dedup_recall_eval").collect()(0)
    val nFound = truth.count(lsh.contains).toLong
    assert(row.getLong(0) === truth.size.toLong)
    assert(row.getLong(1) === nFound)
    assert(row.getDouble(2) === nFound.toDouble / truth.size.toDouble)
    assert(row.getLong(3) === lsh.size.toLong)
    // non-vacuous: the fixture has true pairs, and the deployed banding
    // finds a meaningful fraction of them
    assert(truth.nonEmpty && row.getDouble(2) > 0.5)
  }

  test("dedup_yield_curve: monotone, conserving, and exact at the 0.9 tier") {
    val curve = q("dedup_yield_curve").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(curve.map(_._1).toSeq === Seq(0.80, 0.85, 0.90, 0.95, 1.0))
    // keep-first drops can only shrink as the threshold tightens
    curve.sliding(2).foreach { w => assert(w(0)._2 >= w(1)._2) }
    val total = Tables.documents(spark, sf).count()
    curve.foreach { case (_, d, k) => assert(d + k === total) }
    // the τ=0.9 point must agree EXACTLY with the registry's own 0.9
    // tier (both enumerations are complete above their thresholds, so
    // the pair sets coincide there)
    val d90 = q("dedup_ngram_jaccard").select("doc_b").distinct().count()
    assert(curve.find(_._1 == 0.90).get._2 === d90)
    assert(curve.head._2 > curve.last._2, "the curve should actually slope")
  }

  test("text_stats: distinct tokens never exceed tokens") {
    assert(q("text_stats").filter(col("n_distinct_tokens") > col("n_tokens")).count() === 0)
  }

  test("lang_id ratios lie in [0,1]") {
    assert(q("lang_id").filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() === 0)
  }

  test("quality_score lies in (0, 1]") {
    assert(q("quality_score").filter(col("quality") <= 0 || col("quality") > 1).count() === 0)
  }

  test("doc_fingerprint: permuting token order preserves fingerprint") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val fp = a.select(md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
      .as("fp")).collect()
    assert(fp(0) === fp(1))
  }

  test("dedup_exact_stats is consistent with dedup_keep_first") {
    val stats = q("dedup_exact_stats").collect()(0)
    val keepers = q("dedup_keep_first")
    assert(stats.getAs[Long]("n_unique_texts") === keepers.count())
    assert(stats.getAs[Long]("n_docs") ===
      keepers.agg(sum("n_copies")).collect()(0).getLong(0))
  }

  test("minhash LSH recall matches the K=64 estimator theory; high precision") {
    // exact global token-set jaccard (no blocking) as ground truth
    val dt = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
    val sizes = dt.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val exact = dt.as("a").join(dt.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("j", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
    val found = q("dedup_minhash_lsh").select("doc_a", "doc_b")
    // Recall bounds follow from the estimator's binomial variance, not from
    // a particular hash draw: with K=64 agreeing-slot count ~ Bin(64, j),
    // the est >= 0.8 verification keeps a true-j pair with
    // P(Bin(64, j) >= 52). j >= 0.9 -> miss ~0.4% (assert >= 97%);
    // j >= 0.85 mixes in boundary pairs where theory allows ~13% miss at
    // exactly j = 0.85 (assert >= 90%). Banding misses are negligible
    // (P = (1-j^4)^16 < 1e-5 at j >= 0.85).
    def recallVs(thr: Double): Double = {
      val truth = exact.filter(col("j") >= thr).select("doc_a", "doc_b")
      val nTruth = truth.count()
      assert(nTruth > 0)
      truth.join(found, Seq("doc_a", "doc_b"), "left_semi").count().toDouble / nTruth
    }
    val r90 = recallVs(0.90)
    val r85 = recallVs(0.85)
    assert(r90 >= 0.97, s"recall@j>=0.90 $r90")
    assert(r85 >= 0.90, s"recall@j>=0.85 $r85")
    // precision proxy: everything found must have exact jaccard >= 0.7
    val falsePos = found.join(exact.filter(col("j") >= 0.7), Seq("doc_a", "doc_b"), "left_anti").count()
    assert(falsePos.toDouble / math.max(found.count(), 1) <= 0.05)
  }

  test("native SimHash64 matches the explode-based reference formulation") {
    // base hash via the same PortableHash word (the portability contract);
    // everything downstream — tf weighting, per-bit votes, sign assembly —
    // is an independent explode/aggregate formulation of the algorithm
    val h64 = udf((s: String) => graft.functions.PortableHash.md5Long64(
      org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    val tf = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .withColumn("h", h64(col("tok")))
    val ref = tf.select(col("doc_id"), col("tf"), col("h"),
        explode(sequence(lit(0), lit(63))).as("bit"))
      .withColumn("contrib",
        col("tf") * when(expr("shiftright(h, bit) & 1") === 1, 1L).otherwise(-1L))
      .groupBy("doc_id", "bit").agg(sum(col("contrib")).as("vote"))
      .withColumn("bitval",
        when(col("vote") > 0, expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0L))
      .groupBy("doc_id").agg(sum(col("bitval")).as("ref_sh"))
    val native = Tables.documents(spark, sf).limit(20)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhash64(split(col("text"), " ")).as("sh"))
    assert(native.join(ref, "doc_id").filter(col("sh") =!= col("ref_sh")).count() === 0)
  }

  test("simhash: equal texts yield equal signatures; signature is 64-bit") {
    val sh = q("dedup_simhash")
    assert(sh.count() === Tables.documents(spark, sf).count())
    assert(sh.groupBy("doc_id").count().filter(col("count") > 1).count() === 0)
  }

  test("simhash_pairs hamming bounded by 8 and symmetric-free (a<b)") {
    val p = q("dedup_simhash_pairs")
    assert(p.filter(col("hamming") > 8).count() === 0)
    assert(p.filter(col("doc_a") >= col("doc_b")).count() === 0)
  }

  test("dedup_clusters: pairs co-clustered, keeper is min id, sizes consistent") {
    val cl = q("dedup_clusters").cache()
    val pairs = q("dedup_ngram_jaccard").select("doc_a", "doc_b")
    // every near-dup pair landed in one cluster
    val lab = cl.select(col("doc_id"), col("cluster_id"))
    val split_ = pairs
      .join(lab.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "ca"), "doc_a")
      .join(lab.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "cb"), "doc_b")
      .filter(col("ca") =!= col("cb"))
    assert(split_.count() === 0)
    // cluster_id is the min member; exactly one keeper per cluster
    assert(cl.filter(col("cluster_id") > col("doc_id")).count() === 0)
    val perCluster = cl.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), sum(col("is_keeper").cast("long")).as("k"),
        min("doc_id").as("mn"))
    assert(perCluster.filter(col("k") =!= 1).count() === 0)
    assert(perCluster.filter(col("mn") =!= col("cluster_id")).count() === 0)
    // reported sizes match actual membership; total membership = corpus
    assert(cl.join(perCluster, "cluster_id")
      .filter(col("cluster_size") =!= col("n")).count() === 0)
    assert(cl.count() === Tables.documents(spark, sf).count())
    cl.unpersist()
  }

  test("connectedComponents resolves a 2000-node chain (needs O(log d) jumping)") {
    // a path graph of diameter 1999: plain min-propagation needs ~2000
    // rounds and would exhaust the 50-iteration bound; pointer jumping
    // converges in O(log d) ≈ 11 rounds. This test is the differentiator
    // that keeps the scalability claim honest, so it pins the driver
    // budget to 0: the chain would otherwise finish by union-find.
    val n = 2000L
    val nodes = spark.range(n).toDF("doc_id")
    val pairs = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val labels = graft.ops.DedupOps.connectedComponents(nodes, pairs, localRows = 0)
    assert(labels.filter(col("label") =!= 0L).count() === 0)
    assert(labels.count() === n)
  }

  test("heavy_hitters equals word_count filtered at the exact threshold") {
    val hh = q("heavy_hitters").select("token", "n")
    val tokens = q("tokenize")
    val total = tokens.count()
    val expect = q("word_count").filter(col("n") * 50 > total).select("token", "n")
    assert(hh.exceptAll(expect).count() === 0)
    assert(expect.exceptAll(hh).count() === 0)
    assert(hh.count() > 0)
  }

  test("ngram jaccard pairs respect the threshold") {
    assert(q("dedup_ngram_jaccard").filter(col("jaccard") < 0.9).count() === 0)
  }

  test("chunk_documents tiles every document: full interior chunks, exact tail") {
    val chunks = q("chunk_documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Long]("n_tokens")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val docTokens = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks.keySet === docTokens.keySet, "every document is chunked")
    chunks.foreach { case (doc, cs) =>
      // contiguous ids from 0, every chunk before the last is full-width,
      // and the last chunk's 48-stride offset + length lands exactly on
      // the document's token count (total coverage, nothing clipped)
      assert(cs.map(_._2) === (0L until cs.length).toSeq, s"doc $doc ids")
      cs.init.foreach { c => assert(c._3 === 64L, s"doc $doc interior chunk") }
      val last = cs.last
      assert(last._2 * 48 + last._3 === docTokens(doc), s"doc $doc tail") }
  }

  test("dedup_incremental decisions replay the snapshot/batch split exactly") {
    val rows = q("dedup_incremental").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // ground truth recomputed independently from the bag fingerprints
    val fp = q("doc_fingerprint").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint")).toMap
    val cut = fp.keys.max / 2
    val snapH = fp.filter(_._1 <= cut).values.toSet
    val batch = fp.filter(_._1 > cut).toSeq.sortBy(_._1)
    assert(rows.map(_._1).toSeq === batch.map(_._1), "batch membership + order")
    val firstIn = batch.groupBy(_._2).map { case (h, ds) => h -> ds.map(_._1).min }
    rows.foreach { case (id, h, dec) =>
      assert(h === fp(id), s"doc $id digest")
      val want =
        if (snapH.contains(h)) "dup_of_snapshot"
        else if (id > firstIn(h)) "dup_in_batch"
        else "new"
      assert(dec === want, s"doc $id") }
    // the fixture must exercise every branch, or this test proves nothing
    val kinds = rows.map(_._3).toSet
    assert(kinds === Set("new", "dup_of_snapshot", "dup_in_batch"),
      s"fixture exercises all decision branches, got $kinds")
  }

  test("dedup_bloom_prefilter: exact decisions; bloom prunes without false negatives") {
    val rows = q("dedup_bloom_prefilter").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // ground truth: the plain two-way snapshot decision, bloom-free
    val fp = q("doc_fingerprint").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint")).toMap
    val cut = fp.keys.max / 2
    val snapH = fp.filter(_._1 <= cut).values.toSet
    val batch = fp.filter(_._1 > cut).toSeq.sortBy(_._1)
    assert(rows.map(_._1).toSeq === batch.map(_._1), "batch membership + order")
    rows.foreach { case (id, h, dec) =>
      assert(h === fp(id), s"doc $id digest")
      assert(dec === (if (snapH.contains(h)) "dup_of_snapshot" else "new"), s"doc $id")
    }
    assert(rows.map(_._3).toSet === Set("new", "dup_of_snapshot"),
      "fixture exercises both decision branches")
    // the prefilter contract, replayed on an identically-built sketch:
    // every TRUE snapshot dup digest passes (no false negative — a miss
    // here would have silently dropped a dup above), and the sketch
    // really prunes the snapshot side on this corpus (a bloom that keeps
    // everything is dead weight, not a prefilter)
    import spark.implicits._
    val batchDf = batch.map(_._2).toDF("content_hash")
    val bloom = batchDf.stat.bloomFilter("content_hash",
      math.max(1L, batch.length.toLong), 0.01)
    val batchH = batch.map(_._2).toSet
    snapH.filter(batchH.contains).foreach { h =>
      assert(bloom.mightContain(h), s"false negative on true dup digest $h")
    }
    val survivors = snapH.count(bloom.mightContain)
    assert(survivors < snapH.size,
      s"bloom prunes nothing: $survivors of ${snapH.size} snapshot digests survive")
  }

  test("dedup_substring_spans spans are verbatim-equal token runs and maximal") {
    val spans = q("dedup_substring_spans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt,
        r.getLong(3).toInt, r.getLong(4).toInt))
    assert(spans.nonEmpty, "fixture contains no cross-doc repeated spans")
    assert(spans.exists(_._5 >= 8), "no LONG planted span found — fixture drift")
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    spans.foreach { case (a, b, sa, sb, len) =>
      val (wa, wb) = (texts(a), texts(b))
      // the reported span really is token-for-token identical in both docs
      assert(wa.slice(sa, sa + len).sameElements(wb.slice(sb, sb + len)),
        s"span ($a,$b,$sa,$sb,$len) not verbatim")
      // and MAXIMAL: one more token on either side breaks the match
      assert(sa == 0 || sb == 0 || wa(sa - 1) != wb(sb - 1),
        s"span ($a,$b,$sa,$sb,$len) extendable left")
      assert(sa + len >= wa.length || sb + len >= wb.length ||
        wa(sa + len) != wb(sb + len),
        s"span ($a,$b,$sa,$sb,$len) extendable right")
    }
  }

  test("span_excision replays the independent interval union of the span table") {
    val spans = q("dedup_substring_spans").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(3) + r.getLong(4)))
    val got = q("span_excision").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val docTokens = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent union replay in plain Scala
    val want = spans.groupBy(_._1).map { case (doc, ss) =>
      val sorted = ss.map(s => (s._2, s._3)).sortBy(identity)
      val merged = sorted.foldLeft(List.empty[(Long, Long)]) {
        case (acc @ ((ps, pe) :: rest), (s, e)) =>
          if (s <= pe) (ps, math.max(pe, e)) :: rest else (s, e) :: acc
        case (Nil, r) => r :: Nil
      }
      val removed = merged.map { case (s, e) => e - s }.sum
      doc -> ((merged.size.toLong, removed, docTokens(doc) - removed))
    }
    assert(got.keySet === want.keySet, "affected-doc set")
    want.foreach { case (doc, exp) => assert(got(doc) === exp, s"doc $doc") }
    // conservation: removed + kept == the doc's token count
    got.foreach { case (doc, (_, rm, kp)) =>
      assert(rm + kp === docTokens(doc), s"doc $doc conservation") }
  }

  test("unionRanges merges overlap/touch/nest and keeps disjoint — all branches") {
    // the committed fixture carries one range per doc, so the MERGE
    // branch of the islands window never fires through the oracle; this
    // drives the helper with every interval relationship directly
    import spark.implicits._
    val in = Seq(
      // doc 1: overlap + touch chain -> one [0, 12)
      (1L, 0L, 5L), (1L, 3L, 9L), (1L, 9L, 12L),
      // doc 1: disjoint tail -> [20, 25)
      (1L, 20L, 25L),
      // doc 2: nested -> one [2, 10)
      (2L, 2L, 10L), (2L, 4L, 6L),
      // doc 3: identical duplicates -> one [7, 9)
      (3L, 7L, 9L), (3L, 7L, 9L),
      // doc 4: strictly disjoint, arrival out of order -> both survive
      (4L, 10L, 12L), (4L, 0L, 2L)
    ).toDF("doc_id", "s", "e")
    val got = graft.ops.DedupOps.unionRanges(in)
      .select("doc_id", "s", "e").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, 0L, 12L), (1L, 20L, 25L),
      (2L, 2L, 10L),
      (3L, 7L, 9L),
      (4L, 0L, 2L), (4L, 10L, 12L)))
  }

  test("decontaminate_spans: eval/train split honored, spans verbatim and maximal") {
    val spans = q("decontaminate_spans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt,
        r.getLong(3).toInt, r.getLong(4).toInt))
    assert(spans.nonEmpty, "fixture has no eval/train shared spans")
    assert(spans.exists(_._5 >= 8), "no LONG leak span found — fixture drift")
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    spans.foreach { case (e, t, se, st, len) =>
      assert(e % 97 === 0, s"eval_doc $e not in the eval slice")
      assert(t % 97 !== 0, s"train_doc $t leaked into the eval slice")
      val (we, wt) = (texts(e), texts(t))
      assert(we.slice(se, se + len).sameElements(wt.slice(st, st + len)),
        s"span ($e,$t,$se,$st,$len) not verbatim")
      assert(se == 0 || st == 0 || we(se - 1) != wt(st - 1),
        s"span ($e,$t,$se,$st,$len) extendable left")
      assert(se + len >= we.length || st + len >= wt.length ||
        we(se + len) != wt(st + len),
        s"span ($e,$t,$se,$st,$len) extendable right")
    }
  }

  test("decontaminate_report is the per-source rollup of the span table") {
    val src = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val spans = q("decontaminate_spans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val want = spans.groupBy { case (_, t, _) => src(t) }.map { case (s, rs) =>
      (s, rs.length.toLong, rs.map(_._1).distinct.length.toLong,
        rs.map(_._2).distinct.length.toLong, rs.map(_._3).sum)
    }.toSeq.sortBy(_._1)
    val got = q("decontaminate_report").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === want)
    assert(got.nonEmpty && got.map(_._2).sum === spans.length.toLong)
  }

  test("dedup_cross_source equals the pair expansion of per-fingerprint source sets") {
    val src = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val fp = q("doc_fingerprint").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint"))
    // independent replay: fingerprint -> distinct source set -> ordered pairs
    val bySets = fp.toSeq.groupBy(_._2).values.toSeq
      .map(_.map { case (id, _) => src(id) }.distinct.sorted)
      .filter(_.length >= 2)
    val want = bySets
      .flatMap(ss => for { a <- ss; b <- ss if a < b } yield (a, b))
      .groupBy(identity).map { case (p, v) => p -> v.size.toLong }
    val got = q("dedup_cross_source").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
    assert(got.toMap === want)
    assert(got.map(_._1).toSeq === got.map(_._1).toSeq.sorted, "presentation order")
    assert(got.nonEmpty, "fixture has no cross-source duplicates — drift")
  }

  test("filter_funnel replays the per-doc rule booleans; cumulative counts monotone") {
    val rules = Tables.documents(spark, sf).select("text", "n_chars").collect()
      .map { r =>
        val t = r.getString(0).split(" ", -1)
        val n = t.length.toLong
        val chars = r.getLong(1) - n + 1
        (n >= 20 && n <= 90,
          chars >= 4 * n && chars <= 5 * n,
          t.contains("the") && t.contains("a"),
          t.distinct.length * 5 >= n * 2)
      }
    val want = Seq(
      (1L, "token_count_bounds", rules.count(!_._1).toLong,
        rules.count(_._1).toLong),
      (2L, "mean_word_len_bounds", rules.count(!_._2).toLong,
        rules.count(x => x._1 && x._2).toLong),
      (3L, "stopword_presence", rules.count(!_._3).toLong,
        rules.count(x => x._1 && x._2 && x._3).toLong),
      (4L, "distinct_token_ratio", rules.count(!_._4).toLong,
        rules.count(x => x._1 && x._2 && x._3 && x._4).toLong))
    val got = q("filter_funnel").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    val cum = got.map(_._4)
    assert(cum === cum.sorted.reverse, "funnel survivors must be nonincreasing")
    assert(got.forall(_._3 > 0), "every rule should attrite on this fixture")
  }

  test("ngram_diversity replays sliding-3-gram stats per source") {
    val docs = Tables.documents(spark, sf).select("source", "text").collect()
    val want = docs.groupBy(_.getString(0)).map { case (s, rs) =>
      val sh = rs.toSeq.flatMap(_.getString(1).split(" ").toSeq
        .sliding(3).filter(_.length == 3).map(_.mkString(" ")))
      val counts = sh.groupBy(identity).map(_._2.size.toLong).toSeq
      val (tot, dis) = (counts.sum, counts.size.toLong)
      val hapax = counts.count(_ == 1L).toLong
      (s, tot, dis, hapax, counts.max,
        dis.toDouble / tot, hapax.toDouble / dis)
    }.toSeq.sortBy(_._1)
    val got = q("ngram_diversity").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6))).toSeq
    assert(got === want)
  }

  test("dedup_paragraphs replays keep-first over 10-word units; untouched docs round-trip") {
    val k = graft.ops.DedupOps.ParagraphUnitWords
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // reference replay: segment, rank occurrences corpus-wide, keep rk 1
    val units = docs.flatMap { case (id, text) =>
      text.split(" ").grouped(k).zipWithIndex
        .map { case (ws, p) => (id, p.toLong, ws.mkString(" ")) }
    }
    val firstOf = units.groupBy(_._3).map { case (u, occ) =>
      (u, occ.map(o => (o._1, o._2)).min)
    }
    val want = units.groupBy(_._1).map { case (id, us) =>
      val kept = us.filter(u => firstOf(u._3) == ((u._1, u._2)))
        .sortBy(_._2).map(_._3).mkString(" ")
      (id, kept, us.length.toLong,
        us.count(u => firstOf(u._3) != ((u._1, u._2))).toLong)
    }.toSeq.sortBy(_._1)
    val got = q("dedup_paragraphs").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    // docs with nothing dropped must round-trip their text exactly
    val textOf = docs.toMap
    got.filter(_._4 == 0L).foreach { case (id, kept, _, _) =>
      assert(kept === textOf(id), s"doc $id mutated without drops")
    }
    // the op must actually drop something on this fixture (duplicate docs
    // exist), and every distinct unit must survive somewhere (keep-FIRST,
    // not delete-all)
    assert(got.exists(_._4 > 0L), "no unit dropped — fixture degenerate")
    val keptUnits = got.flatMap(_._2.split(" ").grouped(k).map(_.mkString(" "))).toSet
    // kept_text re-segments on the same boundaries only for docs whose
    // drops didn't shift positions; check instead via the replay's kept set
    val wantKept = units.filter(u => firstOf(u._3) == ((u._1, u._2))).map(_._3).toSet
    assert(wantKept === units.map(_._3).toSet, "keep-first lost a distinct unit")
    assert(keptUnits.nonEmpty)
  }
}
