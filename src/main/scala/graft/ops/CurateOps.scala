package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation pipeline (north-star): the composed passes a
  * 100 TB corpus goes through before training — quality/language gating,
  * exact dedup, benchmark decontamination, reproducible splits and
  * stratified sampling. Everything here is deterministic BY CONTENT
  * (md5-derived decisions), which is how production pipelines stay
  * reproducible across reruns and cluster sizes — and it makes every
  * query fully DuckDB-oracle-checkable, including the sampling ones.
  *
  * All passes are scans + one keyed exchange each: gates are row-local
  * predicates (pushed into the scan), dedup/decontamination key on
  * content digests (16-byte shuffle keys, bodies never shuffle twice),
  * splits/sampling are stateless hash decisions.
  */
object CurateOps {
  type Q = (SparkSession, String) => DataFrame

  private def toks: Column = split(col("text"), " ")
  private val enStopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** The composed curation pipeline: length gate (≥20 tokens), language
    * gate (stopword ratio > 0.05), quality gate (distinct-token ratio
    * > 0.3), exact dedup keeping the lowest doc_id per content digest,
    * then per-source survivor stats. The keep-first dedup is the
    * row_number idiom — with [[graft.plans.GraftExtensions]] live it
    * plans as the TopKPerKey heap operator, not a window sort. */
  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val stops = array(enStopwords.map(lit): _*)
    val gated = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("stop_ratio",
        size(filter(toks, t => array_contains(stops, t))).cast("double") / col("n_tokens"))
      .withColumn("distinct_ratio",
        size(array_distinct(toks)).cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 20 &&
        col("stop_ratio") > 0.05 && col("distinct_ratio") > 0.3)
      .withColumn("digest", md5(col("text")))
    val w = Window.partitionBy("digest").orderBy(col("doc_id").asc)
    gated.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("total_tokens"))
      .orderBy("source")
  }

  /** Reproducible train/validation split: the decision is a pure function
    * of the content hash (first hex byte of md5 < 0x1a ⇒ validation,
    * ≈10.2%), so membership is stable across reruns, repartitions and
    * engines — the property random splits lack. */
  def trainValSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"),
        (substring(md5(col("text")), 1, 2) < "1a").as("is_val"))
      .groupBy("source")
      .agg(count(when(!col("is_val"), 1)).as("n_train"),
        count(when(col("is_val"), 1)).as("n_val"))
      .orderBy("source")

  /** Benchmark decontamination: drop corpus documents whose
    * order-insensitive token fingerprint collides with the eval set
    * (stand-in: every 97th document) — a cross-corpus exact-content
    * anti-join on a 16-byte signature, the first pass of every
    * contamination audit. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    def fp(df: DataFrame): DataFrame =
      df.withColumn("fingerprint",
        md5(concat_ws(" ", array_sort(array_distinct(toks)))))
    val corpus = fp(Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("text")))
    val eval_ = fp(Tables.documents(spark, sfDir).filter(col("doc_id") % 97 === 0)
      .select(col("text")))
      .select("fingerprint")
    corpus.join(eval_, Seq("fingerprint"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_clean"))
      .orderBy("source")
  }

  /** [[decontaminate]] with a broadcast bucket prefilter — the shape that
    * survives a LARGE eval set at 100 TB. The first 16 bits of the
    * fingerprint index a membership table of ≤ 2¹⁶ distinct buckets
    * (bounded however big the eval set grows — the exact-bitmap analog of
    * a Bloom filter, false-positive rate = occupied-bucket fraction):
    *
    *  1. corpus rows whose bucket misses the broadcast table are clean by
    *     construction — they NEVER shuffle;
    *  2. only the surviving candidates carry their fingerprints into the
    *     exact anti-join, which restores zero false positives.
    *
    * Result is identical to the plain anti-join (same oracle SQL): the
    * prefilter can only remove rows the anti-join would also keep-as-clean
    * … i.e. it routes, never decides. */
  def decontaminatePrefilter(spark: SparkSession, sfDir: String): DataFrame = {
    def fp(df: DataFrame): DataFrame =
      df.withColumn("fingerprint",
        md5(concat_ws(" ", array_sort(array_distinct(toks)))))
    def bucketed(df: DataFrame): DataFrame =
      df.withColumn("bucket", substring(col("fingerprint"), 1, 4))
    // checkpoint the fingerprinted+bucketed corpus: BOTH branches below
    // (bucket-miss clean rows and bucket-hit survivors) consume it, and
    // Catalyst reuses exchanges, not un-exchanged subplan computations —
    // without the checkpoint the md5-of-sorted-distinct-tokens pass (the
    // dominant scan+map cost at 100 TB) runs twice (GraphOps.scala lesson)
    val corpus = Fixpoint.eagerCheckpoint(bucketed(fp(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"), col("text")))))
    val evalFp = fp(Tables.documents(spark, sfDir).filter(col("doc_id") % 97 === 0)
      .select(col("text"))).select("fingerprint")
    val evalBuckets = bucketed(evalFp).select("bucket").distinct()
    val cleanByBucket = corpus.join(broadcast(evalBuckets), Seq("bucket"), "left_anti")
    val survivors = corpus.join(broadcast(evalBuckets), Seq("bucket"), "left_semi")
      .join(evalFp, Seq("fingerprint"), "left_anti")
    cleanByBucket.select("source").union(survivors.select("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_clean"))
      .orderBy("source")
  }

  /** SEMANTIC benchmark decontamination — the embedding-space tier of
    * [[decontaminate]] (the standard escalation once exact/n-gram overlap
    * is clean: paraphrased or re-tokenized eval content survives a
    * fingerprint anti-join but sits next to the eval set in embedding
    * space). A corpus vector is flagged contaminated when its MAX cosine
    * against any eval-set vector reaches
    * `spark.graft.decon.semTau` (default 0.30 — non-degenerate on the
    * fixture: 24/494 flagged at sf0.01); the eval set is every 97th
    * vector, the [[decontaminate]] convention.
    *
    * Scale shape — deliberately EXACT, no LSH/blocking: a contamination
    * check's eval side is small by construction (benchmarks are 10³–10⁵
    * rows; the corpus is the 100 TB side), so the whole check is
    * MAP-ONLY over the corpus. The eval set folds into ONE collected
    * array row cross-joined broadcast, and the per-row max cosine is an
    * `aggregate` fold over that array — the corpus never shuffles (the
    * output sort is the gate's determinism harness, not the operator).
    * `max` over bit-identical pinned-fold cosines is order-free, so the
    * DuckDB oracle replays it with a plain cross join + GROUP BY max —
    * the one embedding op where exact IS the production path. */
  def decontaminateSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val tau = graft.GraftConf.deconSemTau(spark)
    val evalMod = graft.GraftConf.deconSemEvalMod(spark)
    val v = SimOps.withNorm(Tables.embeddings(spark, sfDir))
      .select("vec_id", "label", "embedding", "nrm")
    val ev = v.filter(col("vec_id") % evalMod === 0)
      .agg(collect_list(struct(col("embedding"), col("nrm"))).as("ev"))
    v.filter(col("vec_id") % evalMod =!= 0)
      .crossJoin(broadcast(ev))
      // degenerate-eval guard (r15 advice): with semEvalMod larger than
      // any vec_id the eval set is EMPTY — collect_list still emits one
      // empty-array row, and the fold below would surface its -2.0 seed
      // as a "cosine" on every corpus row while the oracle's cross
      // join/inner join returns zero rows. An empty eval set means
      // "nothing to check", so emit zero rows, exactly like the oracle.
      .filter(size(col("ev")) > 0)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        aggregate(col("ev"), lit(-2.0d), (acc, e) =>
          greatest(acc,
            SimOps.dot(col("embedding"), e.getField("embedding")) /
              sqrt(col("nrm") * e.getField("nrm")))).as("max_eval_cos"))
      .withColumn("dropped", col("max_eval_cos") >= lit(tau))
      .orderBy("vec_id")
  }

  /** Deterministic stratified sampling: per-language keep rates (en 25%,
    * everything else 50%) decided by a content-hash byte — the
    * reproducible form of `sampleBy` used when a sampled corpus must be
    * identical on every rerun at any parallelism. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        substring(md5(col("text")), 3, 2).as("h"))
      .filter(when(col("lang") === "en", col("h") < "40").otherwise(col("h") < "80"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("lang")

  /** Deterministic negative sampling — the training-pair generator of
    * recommendation / contrastive pipelines: for each supplier, draw
    * pseudo-random candidate parts from a content hash (engine-portable
    * md5 arithmetic, reproducible at ANY parallelism — no RNG state),
    * then anti-join the observed positives so only true negatives
    * survive. Scale shape: candidates generate map-side (a bounded ×10
    * fan-out of the entity table); the positives table shuffles ONCE on
    * the (supplier, part) key for the anti-join — the exact
    * `decontaminate` topology, reused for label construction. Collision
    * semantics (a candidate equal to a real positive) are resolved by
    * the anti-join, identically in both engines. */
  def negativeSample(spark: SparkSession, sfDir: String): DataFrame = {
    val positives = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_partkey")).distinct()
    val maxPk = Tables.part(spark, sfDir).agg(max(col("p_partkey")).as("max_pk"))
    val cands = graft.Tables.spreadCompactSource(
      // guarded compact-source spread (the minhashLsh rationale): the
      // 10-trial md5/conv fan-out below is the operator's CPU bulk and
      // would otherwise run inside the one-split scan's single task
      Tables.supplier(spark, sfDir).select(col("s_suppkey")))
      .crossJoin(broadcast(maxPk))
      .select(col("s_suppkey"), explode(sequence(lit(0), lit(9))).as("trial"),
        col("max_pk"))
      .select(col("s_suppkey"), col("trial").cast("long").as("trial"),
        expr("1 + (CAST(conv(substr(md5(concat(CAST(s_suppkey AS STRING), '#', " +
          "CAST(trial AS STRING))), 1, 15), 16, 10) AS BIGINT) % max_pk)")
          .as("cand_pk"))
    cands.join(positives,
        cands("s_suppkey") === positives("l_suppkey") &&
          cands("cand_pk") === positives("l_partkey"), "left_anti")
      .orderBy("s_suppkey", "trial")
  }

  /** Token-budget selection — the data-mix primitive: "fill N tokens
    * with the highest-quality documents". Priority order is
    * (quality DESC, doc_id ASC) over [[TextOps.qualityScore]]'s oracled
    * score; the budget derives from the corpus (one tenth of total
    * tokens), nothing hardcoded.
    *
    * Scale shape — the naive formulation is a GLOBAL running-sum window
    * over the quality order: one partition holds the whole corpus. This
    * is the two-phase equi-depth trick instead: (1) per-QUALITY-VALUE
    * token totals (distributed groupBy; the 10⁻⁶-rounded score grid
    * bounds the bucket count at ~10⁶ regardless of corpus size), (2) a
    * cumulative window over those bounded buckets picks the fully-kept
    * prefix and THE one boundary bucket, (3) only the boundary bucket's
    * own docs run a doc_id-ordered running sum (window partitioned by
    * quality — bounded by one bucket's population, not the corpus).
    * Docs join their bucket on the quality key — a plain distributed
    * equi-join. The quality-score derivation is checkpointed once; all
    * three consumers (budget, buckets, doc join) reuse it. */
  def tokenBudgetSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Fixpoint.eagerCheckpoint(TextOps.qualityScore(spark, sfDir))
    val budget = q.agg(expr("CAST(sum(n_tokens) div 10 AS BIGINT)").as("budget"))
    val buckets = q.groupBy("quality").agg(sum(col("n_tokens")).as("bt"))
      .withColumn("cum_before", coalesce(sum(col("bt")).over(
        Window.orderBy(col("quality").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val marked = q.join(buckets, "quality").crossJoin(broadcast(budget))
    val fullKeep = marked
      .filter(col("cum_before") + col("bt") <= col("budget"))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    val boundary = marked
      .filter(col("cum_before") < col("budget") &&
        col("cum_before") + col("bt") > col("budget"))
      .withColumn("wb", coalesce(sum(col("n_tokens")).over(
        Window.partitionBy("quality").orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") + col("wb") < col("budget"))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    fullKeep.unionAll(boundary)
      .orderBy(col("quality").desc, col("doc_id").asc)
  }

  /** Token-budget selection with REAL BPE accounting — the same
    * quality-bucketed selection as [[tokenBudgetSelect]], but the budget
    * and the per-doc cost are measured in actual merges-table BPE tokens
    * ([[graft.functions.BpeVocab]]) instead of whitespace words. This is
    * the unit a training run is actually provisioned in; the two queries
    * differ exactly where an estimator-vs-tokenizer gap would bite.
    * Same scale shape: the only global structure is the tiny
    * quality-bucket table (|buckets| rows) broadcast back — no global
    * per-doc window. */
  def tokenBudgetBpe(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = TextOps.qualityScore(spark, sfDir).drop("n_tokens")
    val withBpe = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.BpeFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
      .join(scored, "doc_id")
    val q = Fixpoint.eagerCheckpoint(withBpe)
    val budget = q.agg(expr("CAST(sum(n_bpe_tokens) div 10 AS BIGINT)").as("budget"))
    val buckets = q.groupBy("quality").agg(sum(col("n_bpe_tokens")).as("bt"))
      .withColumn("cum_before", coalesce(sum(col("bt")).over(
        Window.orderBy(col("quality").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val marked = q.join(buckets, "quality").crossJoin(broadcast(budget))
    val fullKeep = marked
      .filter(col("cum_before") + col("bt") <= col("budget"))
      .select(col("doc_id"), col("n_bpe_tokens"), col("quality"))
    val boundary = marked
      .filter(col("cum_before") < col("budget") &&
        col("cum_before") + col("bt") > col("budget"))
      .withColumn("wb", coalesce(sum(col("n_bpe_tokens")).over(
        Window.partitionBy("quality").orderBy(col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") + col("wb") < col("budget"))
      .select(col("doc_id"), col("n_bpe_tokens"), col("quality"))
    fullKeep.unionAll(boundary)
      .orderBy(col("quality").desc, col("doc_id").asc)
  }

  /** Sequence packing — the step after [[TextOps.chunkDocuments]] in a
    * training pipeline: pack the 64-token chunks into 256-token training
    * sequences. Same distributed deterministic bin-packing as
    * `compact_files` (the packing unit is tokens instead of bytes):
    * chunks order by (doc_id, chunk_id) inside a doc_id-range group, a
    * PARTITIONED running-token window assigns each chunk to sequence
    * `floor(tokens_before / 256)`, and the output is one row per packed
    * sequence with its chunk/doc/token tallies and fill ratio — the
    * numbers a pipeline monitors for padding waste. No global sort
    * funnel; at most one underfull tail sequence per group. */
  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val SeqTokens = graft.GraftConf.packSeqTokens(spark)
    val GroupDocs = graft.GraftConf.packGroupDocs(spark)
    val w = Window.partitionBy("grp").orderBy(col("doc_id").asc, col("chunk_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    TextOps.chunkGrid(spark, sfDir)
      .withColumn("grp", floor(col("doc_id") / GroupDocs))
      .withColumn("seq_id", format_string("g%03d_s%04d", col("grp"),
        (coalesce(sum(col("n_tokens")).over(w), lit(0L)) / SeqTokens)
          .cast("long")))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("fill_ratio",
        col("n_tokens").cast("double") / lit(SeqTokens.toDouble))
      .orderBy("seq_id")
  }

  /** Quality-threshold yield curve — the sweep a curation run does
    * before picking a cutoff: for each observed quality decile, how many
    * documents and tokens survive a `quality ≥ threshold` gate. One
    * distributed groupBy onto ≤11 decile buckets, then a cumulative
    * window over that constant-size table — the curve costs one scan at
    * any corpus size. */
  def qualityYieldCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val top = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    TextOps.qualityScore(spark, sfDir)
      .select(floor(col("quality") * 10).cast("long").as("bucket"),
        col("n_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("toks"))
      .select((col("bucket").cast("double") / 10).as("threshold"),
        sum(col("docs")).over(top).as("n_docs"),
        sum(col("toks")).over(top).as("n_tokens"))
      .orderBy("threshold")
  }

  /** THE FLAGSHIP COMPOSITION — the whole training-data prep pipeline as
    * ONE declarative DAG: quality gates → exact dedup (keep-first) →
    * eval-set decontamination → hash train/val split → sliding-window
    * chunking → per-(split, group) sequence packing → per-split
    * accounting. Every stage is an operator the registry already proves
    * in isolation; this query proves they COMPOSE — one Catalyst plan,
    * no materialization between stages, the narrow stages (gates, split,
    * chunk explode) fused into the scan pipeline, and only two
    * corpus-sized wide boundaries (the dedup window's digest exchange,
    * the packing window's group exchange) — the accounting aggregate's
    * own exchanges ride map-side partials into a 2-row result.
    *
    * At 100 TB this composition IS the deployment: the alternative — six
    * jobs with five intermediate tables — pays five write/read cycles of
    * a corpus-sized artifact; here only the final 2-row accounting ever
    * materializes, and a real run would swap the accounting aggregate
    * for a partitioned write of the packed sequences. Fully oracled: the
    * same chain restated as one DuckDB CTE cascade (stage spellings
    * identical to the component oracles), fill ratio as one IEEE
    * division of exact integers. */
  def pipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val C = graft.GraftConf.chunkTokens(spark)
    val S = graft.GraftConf.chunkStride(spark)
    val SeqTokens = graft.GraftConf.packSeqTokens(spark)
    val GroupDocs = graft.GraftConf.packGroupDocs(spark)
    val stops = array(enStopwords.map(lit): _*)
    // 1. quality gates (curation_pipeline's, verbatim)
    val gated = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .withColumn("t", toks)
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("stop_ratio",
        size(filter(col("t"), x => array_contains(stops, x))).cast("double") /
          col("n_tokens"))
      .withColumn("distinct_ratio",
        size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 20 &&
        col("stop_ratio") > 0.05 && col("distinct_ratio") > 0.3)
    // 2. exact dedup, keep lowest doc_id per content digest
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)
    val deduped = gated.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    // 3. decontamination: drop docs whose bag-of-words fingerprint
    //    appears in the eval slice (decontaminate's rule, verbatim)
    val fp = md5(array_join(array_sort(array_distinct(col("t"))), " "))
    val evalSet = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 97 === 0)
      .select(md5(array_join(array_sort(array_distinct(toks)), " ")).as("fp"))
      .distinct()
    val clean = deduped.withColumn("fp", fp)
      .join(broadcast(evalSet), Seq("fp"), "left_anti")
    // 4. content-hash train/val split (train_val_split's rule, verbatim)
    val splitDf = clean.withColumn("split",
      when(substring(md5(col("text")), 1, 2) < "1a", lit("val"))
        .otherwise(lit("train")))
    // 5. sliding-window chunking (chunk_documents' closed-form grid)
    val chunks = splitDf
      .withColumn("chunk_id",
        explode(expr(s"sequence(0L, greatest(0L, (n_tokens - $C + $S - 1) div $S))")))
      .withColumn("ck_tokens",
        least(lit(C), col("n_tokens") - col("chunk_id") * S))
      .select(col("split"), col("doc_id"), col("chunk_id"), col("ck_tokens"))
    // 6. sequence packing per (split, doc-range group) — the partitioned
    //    running-sum window, never a global sort
    val grp = floor(col("doc_id") / GroupDocs)
    val pw = Window.partitionBy(col("split"), col("grp"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = chunks.withColumn("grp", grp)
      .withColumn("seqix",
        (coalesce(sum(col("ck_tokens")).over(pw), lit(0L)) / SeqTokens).cast("long"))
    // 7. per-split accounting (a deployment writes the sequences instead)
    packed
      .groupBy("split")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("grp") * 1000000L + col("seqix")).as("n_seqs"),
        sum(col("ck_tokens")).cast("long").as("total_tokens"))
      .withColumn("fill_ratio", col("total_tokens").cast("double") /
        (col("n_seqs").cast("double") * SeqTokens.toDouble))
      .orderBy("split")
  }

  /** Corpus MIXTURE — the pretraining data-mix op: each source is
    * up-/down-sampled toward an equal share of the total token budget
    * (the α→0 end of temperature-weighted mixing; the weights table is
    * derived from the corpus, nothing hardcoded). Epochs are rational:
    * `budget DIV toks_s` full passes over source s plus a
    * `(budget MOD toks_s)/toks_s`-rate extra copy decided per doc by
    * engine-portable md5 arithmetic — deterministic at ANY parallelism,
    * reproducible across reruns, and integer end-to-end so the oracle
    * hash-matches.
    *
    * Scale shape: two tiny aggregates (per-source totals → broadcast
    * back), a bounded explode (fan-out = full-epoch count, single
    * digits), one keyed exchange for the final per-source rollup. The
    * corpus never funnels: the mixture materializes map-side. At 100 TB
    * the explode emits references (doc_id, epoch), not bodies — exactly
    * what a training-shard writer consumes. */
  def mixCorpora(spark: SparkSession, sfDir: String): DataFrame =
    mixToBudgets(spark, sfDir) { st =>
      val tot = st.agg(sum("toks").as("total"), count(lit(1)).as("nsrc"))
      st.crossJoin(broadcast(tot))
        .select(col("source"), col("toks"), expr("total DIV nsrc").as("budget"))
    }

  /** Temperature-weighted mixture, α = 0.5: source s's token budget is
    * proportional to √toks_s — the standard compromise between natural
    * proportions (α = 1, big sources dominate) and the uniform shares of
    * [[mixCorpora]] (α → 0). `floor(sqrt(x))` is exact cross-engine
    * (IEEE sqrt is correctly rounded in both JVMs and DuckDB), and the
    * apportionment `w·(T DIV Σw) + (w·(T MOD Σw)) DIV Σw` is the
    * overflow-safe integer split of `T·w DIV Σw` — every later step is
    * the same integer epoch arithmetic as the uniform mixture. */
  def mixTemperature(spark: SparkSession, sfDir: String): DataFrame =
    mixToBudgets(spark, sfDir) { st =>
      val weighted = st.withColumn("w", floor(sqrt(col("toks"))).cast("long"))
      val tot = weighted.agg(sum("toks").as("total"), sum("w").as("sumw"))
      weighted.crossJoin(broadcast(tot))
        .select(col("source"), col("toks"),
          (col("w") * expr("total DIV sumw") +
            expr("(w * (total % sumw)) DIV sumw")).as("budget"))
    }

  /** The mixture core shared by every weighting: per-source stats (ONE
    * corpus scan, persisted — |sources| rows), a caller-supplied budget
    * derivation, then ONE mixture pass emitting full-epoch copies AND
    * the md5-Bernoulli extra copy from a single bounded explode. (A
    * union of a full-pass branch and an extra-copy branch would read
    * the corpus twice — at 100 TB the second scan is the whole cost of
    * the op.) */
  private def mixToBudgets(spark: SparkSession, sfDir: String)(
      budgets: DataFrame => DataFrame): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("t"))
    val st = PinCache.pinned(tok.groupBy("source").agg(sum("t").as("toks")))
    // the weighting is ENTIRELY the callback's: it derives whatever
    // totals it needs from the cached per-source stats and returns
    // (source, toks, budget) — the core stays weighting-agnostic
    val tgt = budgets(st)
      .withColumn("full_epochs", expr("budget DIV toks"))
      .withColumn("rem", col("budget") % col("toks"))
    val rep = tok.join(broadcast(tgt), Seq("source"))
    val mixed = rep
      .withColumn("n_emit", col("full_epochs") +
        when(
          expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
            % col("toks") < col("rem"), 1L).otherwise(0L))
      .filter(col("n_emit") > 0)
      .select(col("source"), col("doc_id"), col("t"),
        explode(sequence(lit(0L), col("n_emit") - 1)).as("epoch"))
      .groupBy("source")
      .agg(count(lit(1)).as("nr"), sum("t").as("ntok"))
    tgt.join(mixed, Seq("source"), "left_outer")
      .select(col("source"), col("full_epochs"),
        coalesce(col("nr"), lit(0L)).as("n_rows_mixed"),
        coalesce(col("ntok"), lit(0L)).as("n_tokens_mixed"),
        col("budget").as("target_tokens"))
      .orderBy("source")
  }

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — the hashed-n-gram
    * variant, unigram order): score every NON-target document by how
    * target-like its unigram distribution is, and select a fixed budget
    * of the most target-like. Target domain = the `lang = 'en'` slice;
    * candidates = everything else. Per-word importance weight
    *   lw(w) = ⌊10⁶ · ln( p̂_target(w) / p̂_raw(w) ) ⌋     (add-1 smoothed)
    * where p̂_raw is the WHOLE raw corpus distribution (target slice
    * included) — the DSIR convention: the denominator is the raw data
    * distribution the features were drawn from, not the complement
    * slice, which also keeps it reusable unchanged when the target set
    * comes from outside the corpus.
    * and per-doc score = Σ over token OCCURRENCES of lw — the
    * log-likelihood ratio in integer micro-nats, so the cross-doc sum is
    * exact at any merge order (a raw double Σlog would be
    * order-dependent and hash-unstable). One float op per DISTINCT word
    * (÷, ln, ×, floor — each correctly rounded or grid-quantized), never
    * per occurrence.
    *
    * Scale shape: ONE token pass builds the vocabulary with BOTH counts
    * as conditional aggregates (map-side combined); the 1-row totals
    * broadcast; the scoring pass joins tokens→vocab UNHINTED (broadcast
    * while the vocab fits, shuffle join on `token` — already the natural
    * key — when it outgrows it: the [[QualityOps.unigramLmScore]] /
    * VocabJoinFallbackSpec doctrine), then one doc-keyed sum and a
    * TakeOrdered top-K — no global sort, no driver loop. The budget
    * (64 docs) is a policy constant, as in production where the selected
    * corpus size is chosen, not derived. */
  def dsirResample(spark: SparkSession, sfDir: String): DataFrame = {
    val tk = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), explode(toks).as("tok"))
    // vocab-sized (not corpus-sized) and read twice below — totals and
    // the per-word weights; without the pin both consumers re-run the
    // corpus token pass
    val vocab = PinCache.pinned(tk.groupBy("tok").agg(
      count(lit(1)).as("ca"),
      count(when(col("lang") === "en", 1)).as("ct")))
    val tot = vocab.agg(sum("ca").cast("long").as("na"),
      sum("ct").cast("long").as("nt"), count(lit(1)).as("v"))
    val weights = vocab.crossJoin(broadcast(tot))
      .select(col("tok"),
        floor(log(((col("ct") + 1).cast("double") * (col("na") + col("v")).cast("double")) /
          ((col("ca") + 1).cast("double") * (col("nt") + col("v")).cast("double"))) * 1e6)
          .cast("long").as("lw"))
    tk.filter(col("lang") =!= "en")
      .join(weights, "tok")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sum("lw").as("score_micronats"), count(lit(1)).as("n_tokens"))
      .orderBy(col("score_micronats").desc, col("doc_id").asc)
      .limit(64)
  }

  /** Deterministic TRAINING-ORDER shuffle into shards — the last stage
    * of the prep chain (mixture → dedup → decontaminate → chunk → pack →
    * SHUFFLE → shards): every document gets a content-independent
    * pseudorandom position that is IDENTICAL on every rerun at any
    * parallelism (the property `orderBy(rand())` lacks), so a training
    * run is reproducible bit-for-bit from the table alone. The shuffle
    * key is md5(doc_id); shard = first 2 hex digits mod nShards, position
    * = rank of the key within the shard.
    *
    * Scale shape: NO global sort — the only exchange hash-partitions by
    * `shard` (the write layout a shard-writer needs anyway) and the
    * position rank is a per-shard window. At 100 TB that is one corpus
    * exchange + a per-shard sort of corpus/nShards rows; nShards scales
    * with the corpus so the per-shard sort stays bounded. */
  def shuffleShards(spark: SparkSession, sfDir: String): DataFrame = {
    val nShards = 8
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
      .withColumn("shard",
        (conv(substring(col("k"), 1, 2), 16, 10).cast("long") % nShards)
          .as("shard"))
    val w = Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))
    keyed.withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }

  val queries: Map[String, Q] = Map(
    "shuffle_shards"         -> (shuffleShards _),
    "dsir_resample"          -> (dsirResample _),
    "mix_corpora"            -> (mixCorpora _),
    "mix_temperature"        -> (mixTemperature _),
    "pipeline_e2e"           -> (pipelineE2e _),
    "token_budget_select"    -> (tokenBudgetSelect _),
    "token_budget_bpe"       -> (tokenBudgetBpe _),
    "quality_yield_curve"    -> (qualityYieldCurve _),
    "pack_sequences"         -> (packSequences _),
    "curation_pipeline"      -> (curationPipeline _),
    "train_val_split"        -> (trainValSplit _),
    "decontaminate"          -> (decontaminate _),
    "decontaminate_prefilter" -> (decontaminatePrefilter _),
    "decontaminate_semantic" -> (decontaminateSemantic _),
    "negative_sample"        -> (negativeSample _),
    "stratified_sample"      -> (stratifiedSample _))

  private val stopList = enStopwords.map(s => s"'$s'").mkString(", ")

  /** The quality-score derivation shared by the two budget oracles —
    * textually identical to the `quality_score` oracle's CTE chain. */
  private val qualitySql =
    s"""t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) AS len_score,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS diversity,
       |    CAST(len(list_filter(string_split(text, ' '),
       |         x -> x IN ($stopList))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stop_ratio
       |  FROM documents),
       |q AS (
       |  SELECT doc_id, n_tokens,
       |    round((len_score + diversity + stop_ratio) / 3.0, 6) AS quality
       |  FROM t)""".stripMargin

  val oracle: Map[String, String] = Map(
    "shuffle_shards" ->
      """WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k
        |  FROM documents),
        |s AS (SELECT doc_id, k,
        |    ('0x' || substr(k, 1, 2))::BIGINT % 8 AS shard
        |  FROM k)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    "dsir_resample" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, source,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok, count(*) AS ca,
        |    count(CASE WHEN lang = 'en' THEN 1 END) AS ct
        |  FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(ct) AS BIGINT) AS nt, count(*) AS v
        |  FROM vocab),
        |w AS (
        |  SELECT tok,
        |    CAST(floor(ln((CAST(ct + 1 AS DOUBLE) * CAST(na + v AS DOUBLE)) /
        |                  (CAST(ca + 1 AS DOUBLE) * CAST(nt + v AS DOUBLE)))
        |         * 1e6) AS BIGINT) AS lw
        |  FROM vocab CROSS JOIN tot)
        |SELECT tk.doc_id, tk.lang, tk.source,
        |  CAST(sum(w.lw) AS BIGINT) AS score_micronats,
        |  CAST(count(*) AS BIGINT) AS n_tokens
        |FROM tk JOIN w USING (tok)
        |WHERE tk.lang <> 'en'
        |GROUP BY 1, 2, 3
        |ORDER BY score_micronats DESC, doc_id ASC
        |LIMIT 64""".stripMargin,
    "mix_temperature" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        |  FROM documents),
        |st AS (SELECT source, sum(t) AS toks,
        |    CAST(floor(sqrt(sum(t))) AS BIGINT) AS w
        |  FROM tok GROUP BY source),
        |tot AS (SELECT sum(toks) AS total, sum(w) AS sumw FROM st),
        |tgt AS (
        |  SELECT source, toks,
        |    w * (total // sumw) + (w * (total % sumw)) // sumw AS budget,
        |    (w * (total // sumw) + (w * (total % sumw)) // sumw) // toks
        |      AS full_epochs,
        |    (w * (total // sumw) + (w * (total % sumw)) // sumw) % toks AS rem
        |  FROM st CROSS JOIN tot),
        |rep AS (
        |  SELECT tok.doc_id, tok.source, tok.t,
        |    tgt.full_epochs, tgt.rem, tgt.toks
        |  FROM tok JOIN tgt USING (source)),
        |emit AS (
        |  SELECT source, doc_id, t,
        |    full_epochs + CASE WHEN
        |      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |        % toks < rem THEN 1 ELSE 0 END AS n_emit
        |  FROM rep),
        |mixed AS (
        |  SELECT source, doc_id, t
        |  FROM emit, unnest(range(0, CAST(n_emit AS BIGINT))) AS e(e)),
        |agg AS (
        |  SELECT source, count(*) AS nr, sum(t) AS ntok
        |  FROM mixed GROUP BY source)
        |SELECT tgt.source,
        |  CAST(tgt.full_epochs AS BIGINT) AS full_epochs,
        |  CAST(coalesce(agg.nr, 0) AS BIGINT) AS n_rows_mixed,
        |  CAST(coalesce(agg.ntok, 0) AS BIGINT) AS n_tokens_mixed,
        |  CAST(tgt.budget AS BIGINT) AS target_tokens
        |FROM tgt LEFT JOIN agg USING (source)
        |ORDER BY source""".stripMargin,
    "mix_corpora" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        |  FROM documents),
        |st AS (SELECT source, sum(t) AS toks FROM tok GROUP BY source),
        |tot AS (SELECT sum(toks) AS total, count(*) AS nsrc FROM st),
        |tgt AS (
        |  SELECT source, toks, total // nsrc AS budget,
        |    (total // nsrc) // toks AS full_epochs,
        |    (total // nsrc) % toks AS rem
        |  FROM st CROSS JOIN tot),
        |rep AS (
        |  SELECT tok.doc_id, tok.source, tok.t,
        |    tgt.full_epochs, tgt.rem, tgt.toks
        |  FROM tok JOIN tgt USING (source)),
        |fullc AS (
        |  SELECT source, doc_id, t
        |  FROM rep, unnest(range(0, CAST(full_epochs AS BIGINT))) AS e(e)),
        |extra AS (
        |  SELECT source, doc_id, t FROM rep
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % toks < rem),
        |mixed AS (SELECT * FROM fullc UNION ALL SELECT * FROM extra),
        |agg AS (
        |  SELECT source, count(*) AS nr, sum(t) AS ntok
        |  FROM mixed GROUP BY source)
        |SELECT tgt.source,
        |  CAST(tgt.full_epochs AS BIGINT) AS full_epochs,
        |  CAST(coalesce(agg.nr, 0) AS BIGINT) AS n_rows_mixed,
        |  CAST(coalesce(agg.ntok, 0) AS BIGINT) AS n_tokens_mixed,
        |  CAST(tgt.budget AS BIGINT) AS target_tokens
        |FROM tgt LEFT JOIN agg USING (source)
        |ORDER BY source""".stripMargin,
    "pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, CAST(i.x AS BIGINT) AS chunk_id,
        |    CAST(least(64, n - CAST(i.x AS BIGINT) * 48) AS BIGINT) AS n_tokens,
        |    doc_id // 256 AS grp
        |  FROM d, unnest(range(0, greatest(0, (n - 64 + 47) // 48) + 1)) AS i(x)),
        |s AS (
        |  SELECT grp, doc_id, chunk_id, n_tokens,
        |    COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY grp
        |      ORDER BY doc_id ASC, chunk_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS cum
        |  FROM ch),
        |b AS (
        |  SELECT format('g{:03d}_s{:04d}', grp, cum // 256) AS seq_id,
        |    doc_id, n_tokens
        |  FROM s)
        |SELECT seq_id, count(*) AS n_chunks,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_tokens) AS DOUBLE) / 256.0 AS fill_ratio
        |FROM b GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "token_budget_bpe" ->
      s"""WITH RECURSIVE ${TextOps.bpeOracleCtes},
         |$qualitySql,
         |dw AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''),
         |bt AS (
         |  SELECT doc.doc_id,
         |    CAST(COALESCE(sum(len(t.toks)), 0) AS BIGINT) AS n_bpe_tokens
         |  FROM documents doc
         |    LEFT JOIN dw d ON d.doc_id = doc.doc_id
         |    LEFT JOIN bpe_wtok t ON t.w = d.w
         |  GROUP BY doc.doc_id),
         |q2 AS (
         |  SELECT q.doc_id, bt.n_bpe_tokens, q.quality
         |  FROM q JOIN bt USING (doc_id)),
         |b AS (SELECT CAST(sum(n_bpe_tokens) // 10 AS BIGINT) AS budget FROM q2),
         |c AS (
         |  SELECT doc_id, n_bpe_tokens, quality,
         |    COALESCE(CAST(sum(n_bpe_tokens) OVER (
         |      ORDER BY quality DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      0) AS cum
         |  FROM q2)
         |SELECT doc_id, n_bpe_tokens, quality FROM c, b
         |WHERE cum < budget
         |ORDER BY quality DESC, doc_id ASC""".stripMargin,
    "token_budget_select" ->
      s"""WITH $qualitySql,
         |b AS (SELECT CAST(sum(n_tokens) // 10 AS BIGINT) AS budget FROM q),
         |c AS (
         |  SELECT doc_id, n_tokens, quality,
         |    COALESCE(CAST(sum(n_tokens) OVER (
         |      ORDER BY quality DESC, doc_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      0) AS cum
         |  FROM q)
         |SELECT doc_id, n_tokens, quality FROM c, b
         |WHERE cum < budget
         |ORDER BY quality DESC, doc_id ASC""".stripMargin,
    "quality_yield_curve" ->
      s"""WITH $qualitySql,
         |d AS (
         |  SELECT CAST(floor(quality * 10) AS BIGINT) AS bucket,
         |    count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS toks
         |  FROM q GROUP BY 1)
         |SELECT CAST(bucket AS DOUBLE) / 10 AS threshold,
         |  CAST(sum(docs) OVER (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) OVER (ORDER BY bucket DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_tokens
         |FROM d ORDER BY threshold ASC""".stripMargin,
    "negative_sample" ->
      """WITH pos AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
        |mx AS (SELECT max(p_partkey) AS max_pk FROM part),
        |cand AS (
        |  SELECT s_suppkey, CAST(t.i AS BIGINT) AS trial,
        |    1 + (('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || '#' ||
        |      CAST(t.i AS VARCHAR)), 1, 15))::BIGINT % max_pk) AS cand_pk
        |  FROM supplier CROSS JOIN mx, unnest(range(0, 10)) AS t(i))
        |SELECT c.s_suppkey, c.trial, c.cand_pk
        |FROM cand c
        |WHERE NOT EXISTS (SELECT 1 FROM pos
        |  WHERE pos.l_suppkey = c.s_suppkey AND pos.l_partkey = c.cand_pk)
        |ORDER BY s_suppkey, trial""".stripMargin,
    "pipeline_e2e" ->
      s"""WITH gated AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS t,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= 20
         |    AND CAST(len(list_filter(string_split(text, ' '),
         |          x -> x IN ($stopList))) AS DOUBLE)
         |        / len(string_split(text, ' ')) > 0.05
         |    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |        / len(string_split(text, ' ')) > 0.3),
         |deduped AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5(text)
         |      ORDER BY doc_id ASC) AS rn FROM gated) z WHERE rn = 1),
         |ev AS (
         |  SELECT DISTINCT md5(array_to_string(
         |      list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
         |  FROM documents WHERE doc_id % 97 = 0),
         |clean AS (
         |  SELECT * FROM deduped d
         |  WHERE NOT EXISTS (SELECT 1 FROM ev WHERE ev.fp =
         |    md5(array_to_string(list_sort(list_distinct(d.t)), ' ')))),
         |sp AS (
         |  SELECT *, CASE WHEN substr(md5(text), 1, 2) < '1a'
         |    THEN 'val' ELSE 'train' END AS split FROM clean),
         |ch AS (
         |  SELECT split, doc_id, CAST(i.x AS BIGINT) AS chunk_id,
         |    CAST(least(64, n_tokens - CAST(i.x AS BIGINT) * 48) AS BIGINT)
         |      AS ck_tokens,
         |    doc_id // 256 AS grp
         |  FROM sp, unnest(range(0, greatest(0, (n_tokens - 64 + 47) // 48) + 1))
         |    AS i(x)),
         |s AS (
         |  SELECT split, grp, doc_id, chunk_id, ck_tokens,
         |    COALESCE(CAST(sum(ck_tokens) OVER (PARTITION BY split, grp
         |      ORDER BY doc_id ASC, chunk_id ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
         |      0) AS cum
         |  FROM ch)
         |SELECT split,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS n_chunks,
         |  CAST(count(DISTINCT grp * 1000000 + cum // 256) AS BIGINT) AS n_seqs,
         |  CAST(sum(ck_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(ck_tokens) AS DOUBLE)
         |    / (CAST(count(DISTINCT grp * 1000000 + cum // 256) AS DOUBLE) * 256.0)
         |    AS fill_ratio
         |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "curation_pipeline" ->
      s"""WITH gated AS (
         |  SELECT doc_id, source, md5(text) AS digest,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents
         |  WHERE len(string_split(text, ' ')) >= 20
         |    AND CAST(len(list_filter(string_split(text, ' '),
         |          t -> t IN ($stopList))) AS DOUBLE)
         |        / len(string_split(text, ' ')) > 0.05
         |    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |        / len(string_split(text, ' ')) > 0.3),
         |kept AS (
         |  SELECT source, n_tokens FROM (
         |    SELECT source, n_tokens,
         |      row_number() OVER (PARTITION BY digest ORDER BY doc_id ASC) AS rn
         |    FROM gated) t
         |  WHERE rn = 1)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,
    "train_val_split" ->
      """SELECT source,
        |  count(*) FILTER (WHERE NOT substr(md5(text), 1, 2) < '1a') AS n_train,
        |  count(*) FILTER (WHERE substr(md5(text), 1, 2) < '1a') AS n_val
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // identical semantics (and near-identical SQL) to decontaminate: the
    // bucket prefilter is a routing optimization, not a semantic change
    "decontaminate_prefilter" ->
      """WITH fp AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |      AS fingerprint
        |  FROM documents),
        |ev AS (
        |  SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |    AS fingerprint
        |  FROM documents WHERE doc_id % 97 = 0)
        |SELECT source, count(*) AS n_clean
        |FROM fp WHERE NOT EXISTS (SELECT 1 FROM ev WHERE ev.fingerprint = fp.fingerprint)
        |GROUP BY source ORDER BY source""".stripMargin,
    "decontaminate" ->
      """WITH fp AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |      AS fingerprint
        |  FROM documents),
        |ev AS (
        |  SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |    AS fingerprint
        |  FROM documents WHERE doc_id % 97 = 0)
        |SELECT source, count(*) AS n_clean
        |FROM fp WHERE NOT EXISTS (SELECT 1 FROM ev WHERE ev.fingerprint = fp.fingerprint)
        |GROUP BY source ORDER BY source""".stripMargin,
    "stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled
        |FROM documents
        |WHERE CASE WHEN lang = 'en' THEN substr(md5(text), 3, 2) < '40'
        |           ELSE substr(md5(text), 3, 2) < '80' END
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "decontaminate_semantic" ->
      s"""WITH v AS (${SimOps.sqlVecLabeled}),
         |n AS (SELECT vec_id, label, d,
         |  ${SimOps.sqlDot("d", "d")} AS nrm FROM v),
         |ev AS (SELECT d, nrm FROM n WHERE vec_id % 97 = 0),
         |c AS (SELECT vec_id, label, d, nrm FROM n WHERE vec_id % 97 <> 0),
         |sc AS (
         |  SELECT c.vec_id,
         |    max(${SimOps.sqlDot("c.d", "e.d")} / sqrt(c.nrm * e.nrm))
         |      AS max_eval_cos
         |  FROM c CROSS JOIN ev e GROUP BY c.vec_id)
         |SELECT c.vec_id, CAST(c.label AS BIGINT) AS label, sc.max_eval_cos,
         |  sc.max_eval_cos >= ${graft.GraftConf.DeconSemTauDefault} AS dropped
         |FROM c JOIN sc ON c.vec_id = sc.vec_id
         |ORDER BY c.vec_id""".stripMargin)
}
