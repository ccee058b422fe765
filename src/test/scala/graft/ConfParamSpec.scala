package graft

import org.apache.spark.sql.functions._

/** Proves the `spark.graft.*` conf actually steers the packing operators:
  * the same query under a different geometry produces a different (and
  * directionally correct) shard/sequence/chunk count. The registry
  * oracles are written against the defaults, so each test restores the
  * conf it touched. */
class ConfParamSpec extends SparkSpec {

  test("chunk_documents: halving the chunk window doubles-ish the chunk count") {
    val base = q("chunk_documents").count()
    val fine = withConf(
      "spark.graft.chunk.tokens" -> "32",
      "spark.graft.chunk.stride" -> "24") { q("chunk_documents").count() }
    assert(fine > base, s"finer grid not finer: $fine <= $base")
    // stride halved → chunk grid ~2x; closed form keeps it within [1.5x, 3x]
    assert(fine >= base * 3 / 2 && fine <= base * 3,
      s"expected ~2x chunks, got $base -> $fine")
    // conf restored: the registry geometry is back
    assert(q("chunk_documents").count() === base)
  }

  test("pack_sequences: halving seqTokens yields more, fuller-bounded sequences") {
    val base = q("pack_sequences").count()
    val fine = withConf("spark.graft.pack.seqTokens" -> "128") {
      val df = q("pack_sequences")
      // fill ratio is still computed against the ACTIVE target
      val over = df.filter(col("n_tokens") > 128 + 64).count()
      assert(over === 0, s"$over sequences overflow the 128+chunk bound")
      df.count()
    }
    assert(fine > base, s"smaller target not more sequences: $fine <= $base")
  }

  test("pack_sequences: smaller packing groups keep totals, change grouping") {
    val baseTokens = q("pack_sequences").agg(sum("n_tokens")).collect()(0).getLong(0)
    val (fineTokens, fineSeqs) = withConf("spark.graft.pack.groupDocs" -> "64") {
      val df = q("pack_sequences")
      (df.agg(sum("n_tokens")).collect()(0).getLong(0), df.count())
    }
    // conservation: regrouping never loses tokens
    assert(fineTokens === baseTokens)
    // more groups → more underfull tail sequences
    assert(fineSeqs >= q("pack_sequences").count())
  }

  test("ann.planes: two more planes quarter-ish the expected bucket occupancy") {
    val base = q("ann_lsh_bucket")
    val baseBuckets = base.select("bucket").distinct().count()
    val n = base.count()
    withConf("spark.graft.ann.planes" -> "10") {
      val fine = q("ann_lsh_bucket")
      assert(fine.count() === n, "retune changed the output row count")
      val fineBuckets = fine.select("bucket").distinct().count()
      // 4x the bucket space; occupied-bucket count must strictly grow
      // (the fixture has far more vectors than 2^10 buckets)
      assert(fineBuckets > baseBuckets,
        s"more planes not more buckets: $fineBuckets <= $baseBuckets")
    }
    assert(q("ann_lsh_bucket").select("bucket").distinct().count() === baseBuckets)
  }

  test("ann.centroidMod: a larger modulus shrinks the fitted centroid set") {
    val v = Tables.embeddings(spark, sf).withColumn("nrm",
      graft.functions.VectorFunctions.vecDot(col("embedding"), col("embedding")))
    val baseK = ops.SimOps.kmeansFit(v, iters = 1).count()
    val coarseK = withConf("spark.graft.ann.centroidMod" -> "128") {
      ops.SimOps.kmeansFit(v, iters = 1).count()
    }
    // 4x the modulus → ~1/4 the seeds; Lloyd can only merge cells, so the
    // fitted count is bounded by the seed count
    assert(coarseK < baseK, s"larger modulus not fewer centroids: $coarseK >= $baseK")
    assert(coarseK <= baseK / 2, s"expected ~k/4, got $baseK -> $coarseK")
  }

  test("ir.simMaxDf: a df ceiling of 1 empties the candidate set") {
    assert(q("tfidf_doc_sim").count() > 0)
    withConf("spark.graft.ir.simMaxDf" -> "1") {
      // df = 1 postings cannot pair two documents
      assert(q("tfidf_doc_sim").count() === 0)
    }
  }

  test("spans.maxDf: caps a planted hot shingle's pair explosion, keeps rare spans") {
    // Synthetic corpus with the exact skew the cap exists for: a 5-token
    // boilerplate block shared by 20 docs (every one of its 3 shingles at
    // df=20 → 190 pair spans uncapped) next to ONE genuine 6-token copy
    // shared by exactly two docs (all shingles at df=2).
    val dir = java.nio.file.Files.createTempDirectory("graft_spans_cap").toString
    import spark.implicits._
    val boiler = "aa bb cc dd ee"
    val docs = (0 until 20).map { i =>
      (i.toLong, s"u${i}x u${i}y $boiler u${i}z u${i}w", "en", "s")
    } :+ (100L, "p1 q1 r1 s1 t1 v1 one two", "en", "s") :+
      (101L, "other p1 q1 r1 s1 t1 v1 tail", "en", "s")
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$dir/documents.parquet")
    val base = SparkEntry.queries("dedup_substring_spans")(spark, dir).collect()
    // uncapped: the boilerplate explodes into all 190 pairs + the rare span
    assert(base.count(_.getAs[Long]("span_len") == 5L) === 190,
      "planted boilerplate should span every hot-doc pair uncapped")
    val rare = base.filter(r => r.getAs[Long]("doc_a") == 100L)
    assert(rare.map(r => (r.getAs[Long]("doc_b"), r.getAs[Long]("span_len")))
      .toSeq === Seq((101L, 6L)), "the rare 6-token copy must span docs 100-101")
    withConf("spark.graft.spans.maxDf" -> "8") {
      val capped = SparkEntry.queries("dedup_substring_spans")(spark, dir).collect()
      // every boilerplate shingle is above the cap → its pairs vanish...
      assert(!capped.exists(_.getAs[Long]("span_len") == 5L),
        "capped run still emits the hot boilerplate spans")
      // ...while the rare (df=2) span survives bit-identically
      assert(capped.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("span_len"))).toSeq ===
        Seq((100L, 101L, 0L, 1L, 6L)))
      // refinement: capped output over surviving shingles ⊆ the uncapped set
      val baseSet = base.map(_.toSeq).toSet
      assert(capped.forall(r => baseSet(r.toSeq)),
        "capping must only remove spans, never invent or move them")
    }
    // conf restored: the fixture gate's uncapped geometry is back
    assert(SparkEntry.queries("dedup_substring_spans")(spark, dir).count()
      === base.length.toLong)
  }

  test("compact_files: halving targetBytes produces more shards, same bytes") {
    val base = q("compact_files").collect()
    val fine = withConf("spark.graft.compact.targetBytes" -> "8192") {
      q("compact_files").collect()
    }
    assert(fine.length > base.length,
      s"smaller shard target not more shards: ${fine.length} <= ${base.length}")
    assert(fine.map(_.getAs[Long]("n_bytes")).sum ===
      base.map(_.getAs[Long]("n_bytes")).sum, "retune lost or grew bytes")
  }

  test("sem.indexedAssign: flat A/B path runs and the two assigns mostly agree") {
    import ops.SimOps
    spark.catalog.clearCache()
    val v = SimOps.withNorm(Tables.embeddings(spark, sf))
    val indexed = SimOps.semAssignScored(spark, v)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = withConf("spark.graft.sem.indexedAssign" -> "false") {
      SimOps.semAssignScored(spark, v)
        .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(indexed.keySet === flat.keySet, "an assign lost vectors")
    // the nprobe=1 cut loses SOME assignments by design — but if the two
    // paths diverged wholesale the indexed form would not be an
    // approximation of the flat one at all
    val agree = indexed.count { case (id, c) => flat(id) == c }
    assert(agree.toDouble / indexed.size >= 0.5,
      s"indexed assign agrees on only $agree/${indexed.size} cells")
    assert(agree < indexed.size || indexed.size < 600,
      "suspicious: paths identical on a corpus large enough to differ")
  }

  test("sem.nprobe: winning ccos dominates nprobe=1; probing every super equals flat") {
    import ops.SimOps
    spark.catalog.clearCache()
    val v = SimOps.withNorm(Tables.embeddings(spark, sf))
    def assign() = SimOps.semAssignScored(spark, v)
      .select("vec_id", "cell", "ccos").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val p1 = assign()
    // nprobe=2 argmins over a SUPERSET of centroids, so each vector's
    // winning similarity can only hold or rise — the dominance pin
    val p2 = withConf("spark.graft.sem.nprobe" -> "2")(assign())
    assert(p1.keySet === p2.keySet)
    p2.foreach { case (id, (_, c2)) =>
      assert(c2 >= p1(id)._2 - 1e-12, s"vec $id ccos fell at nprobe=2")
    }
    // probing EVERY super-cell is the flat argmin exactly — the
    // degeneration pin (the ann_ivf_nprobe doctrine at the quantizer)
    val pAll = withConf("spark.graft.sem.nprobe" -> "1000000")(assign())
    val flat = withConf("spark.graft.sem.indexedAssign" -> "false")(assign())
    assert(pAll === flat, "nprobe=all did not degenerate to the flat assign")
    // and the knob is non-vacuous on this corpus: nprobe=2 must actually
    // change at least one assignment (else the pin above is trivial)
    assert(p2.exists { case (id, (cell, _)) => p1(id)._1 != cell },
      "nprobe=2 changed no assignment — fixture too easy for the pin")
  }

  test("sem.cosThreshold: a tighter pair threshold drops fewer vectors") {
    spark.catalog.clearCache()
    val base = q("dedup_semantic").filter(!col("is_keeper")).count()
    val tight = withConf("spark.graft.sem.cosThreshold" -> "0.9") {
      q("dedup_semantic").filter(!col("is_keeper")).count()
    }
    assert(tight < base,
      s"tighter threshold did not shrink the drop set: $tight >= $base")
    // the natural fixture has no pairs at 0.9 (measured in the recall
    // audit): everything is its own group, nothing drops
    assert(tight === 0L, s"expected an empty 0.9-pair graph, got $tight drops")
  }
}
