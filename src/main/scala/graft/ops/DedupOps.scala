package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.Platform

/** Deduplication suite over `documents` — the north-star LLM-pipeline
  * operators (BASELINE.json north_star; SURVEY.md §2b Q9/Q26).
  *
  * Five tiers, in increasing tolerance to fuzz, plus the decision step:
  *   1. exact (content-hash groupBy)           — [[dedupExactStats]], [[dedupKeepFirst]]
  *   2. exact set-similarity with blocking     — [[ngramJaccard]]
  *   3. MinHash + LSH banding                  — [[minhashLsh]]
  *   4. SimHash 64-bit fingerprints            — [[simhash]], [[simhashPairs]]
  *   5. pairs → clusters → keepers             — [[dedupClusters]] / [[connectedComponents]]
  *
  * All five tiers are DuckDB-oracled: the sketches use the md5-portable
  * base hash ([[graft.functions.PortableHash]]) so both engines compute
  * identical signatures, and clustering is mirrored by a recursive-CTE
  * reachability query.
  *
  * Scale design (the part that has to survive 100 TB):
  *   - Nothing ever forms the O(n²) pair space. Candidates come from
  *     equality joins on bucket keys (content hash, blocking key, LSH band
  *     hash, SimHash band) — each a plain shuffle join Spark partitions by
  *     key. Pair verification touches only bucket-cohabitants.
  *   - Signatures (minhash/simhash) are computed map-side from an explode
  *     of per-doc distinct tokens, then reduced with `min`/`sum` partial
  *     aggregation — shuffle volume is docs × K longs, not tokens.
  *   - Skewed buckets (a near-universal shingle) are the classic hot spot:
  *     the band hash of K minhashes is uniform by construction, and for
  *     blocking keys AQE skew-join splitting handles stragglers.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  private def toks: Column = split(col("text"), " ")

  /** 3-gram shingle-hash ARRAY over pre-split tokens `t` with shingle
    * count `m = size(t) − 2` — the shifted-slice zip_with shingling
    * shared by [[dupNgramSpans]] (corpus-wide counts) and
    * [[substringSpanPairs]] (positional span detection), so the two
    * levels of the substring-dedup signal can never hash differently.
    * Avoids the O(tokens²) re-split trap documented at
    * [[TextOps.docShingleSketch]]. */
  private def shingleHashes: Column =
    zip_with(
      zip_with(slice(col("t"), lit(1), col("m")), slice(col("t"), lit(2), col("m")),
        (x, y) => concat_ws(" ", x, y)),
      slice(col("t"), lit(3), col("m")),
      (xy, z) => md5(concat_ws(" ", xy, z)))

  /** Exact dedup summary: hash-groupBy on md5(content). One shuffle of
    * (hash, partial-count) pairs; at 100 TB the hash (16 B) shuffles, the
    * document bodies never do. */
  def dedupExactStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_unique_texts"),
        sum(col("c")).cast("long").as("n_docs"),
        sum(col("c") - 1).cast("long").as("n_dup_docs"))

  /** Exact dedup keeper selection: min doc_id per content hash — the
    * deterministic replacement for `dropDuplicates`' arbitrary winner. */
  def dedupKeepFirst(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keeper_doc_id")

  /** Exact token-set Jaccard near-dup with source blocking — the
    * PPJoin-style plan:
    *
    *  1. **Length filter**: J ≥ 0.9 forces 10·min(|A|,|B|) ≥ 9·max, so
    *     the candidate join carries set sizes and prunes inline.
    *  2. **Prefix filter**: with token sets sorted canonically, any pair
    *     with J ≥ θ must share a token among each side's first
    *     n − ⌈θ·n⌉ + 1 tokens — so the candidate join only explodes the
    *     ~10% prefix of each document, not its whole token set.
    *  3. **Exact verify**: candidates join back to the per-doc sorted
    *     token arrays and the native [[graft.functions.SortedIntersectCount]]
    *     two-pointer kernel computes the true overlap — O(|A|+|B|) per
    *     pair, no re-explosion.
    *
    * Both filters are provably lossless at the threshold, so the result
    * (and the DuckDB oracle, which states the straightforward
    * explode-join formulation) is unchanged. */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardPairs(spark, sfDir)
      .orderBy("doc_a", "doc_b")

  /** [[ngramJaccard]] without the presentation sort — the form composed
    * operators ([[dedupClusters]]) consume, so they don't pay for a
    * total order they immediately destroy. */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = toksetTable(spark, sfDir)
    // prefix length n − ⌈0.9n⌉ + 1, in exact integer arithmetic
    // (⌈9n/10⌉ = (9n+9) div 10); float ceil(n*0.9) rounds wrong at e.g.
    // n=10 and would silently drop qualifying pairs.
    // the candidate join keys on the 64-bit HASH of (token, source), not
    // the token string: the shuffle then carries 8-byte keys instead of
    // variable-length text, and key comparisons are integer. A hash
    // collision can only ADD a candidate pair, and every candidate is
    // re-verified by exact intersection below — so the result stays
    // exact, no probabilistic caveat.
    // prefix rows carry the token's 0-based POSITION in the sorted set:
    // the PPJoin positional filter below needs it (r18 optimization)
    val prefix = sets.select(col("doc_id"), col("source"), col("n"),
      posexplode(slice(col("tokset"), lit(1),
        (col("n") - expr("(n * 9 + 9) div 10") + 1).cast("int"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("source"), col("n"), col("pos"),
        xxhash64(col("tok"), col("source")).as("tokh"))
    // PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2), exact integers:
    // all common tokens are ≥ the colliding token in the sorted order,
    // so c ≤ 1 + min(na − pa, nb − pb) (pa/pb 1-based = pos+1); j ≥ 0.9
    // ⟺ 19c ≥ 9(na+nb), so a collision can only witness a qualifying
    // pair when 19·(1 + min(na−pa, nb−pb)) ≥ 9(na+nb). LOSSLESS for the
    // pair set: a qualifying pair's FIRST common token lies within both
    // prefixes (the same prefix-filter lemma candidate completeness
    // already rests on) and passes this bound, so the pair still reaches
    // the distinct; only collisions that cannot witness a qualifying
    // pair are dropped — measured 3.85M → far fewer candidate rows into
    // the distinct + verify joins at sf0.1. Verification is unchanged,
    // so the result is identical row for row.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tokh") === col("b.tokh") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 10 >= col("b.n") * 9 && col("b.n") * 10 >= col("a.n") * 9 &&
          (lit(1) + least(col("a.n") - col("a.pos") - 1,
            col("b.n") - col("b.pos") - 1)) * 19 >=
            (col("a.n") + col("b.n")) * 9)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val isect = graft.functions.VectorFunctions
      .sortedIntersectCount(col("set_a"), col("set_b")).cast("long")
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("tokset").as("set_a"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("tokset").as("set_b"),
        col("n").as("nb")), "doc_b")
      .withColumn("c", isect)
      .withColumn("jaccard", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= 0.9)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Containment near-dup: |A∩B| / |A| ≥ 0.9 with A the smaller token
    * set — the SUBSET-duplicate detector (a document pasted inside a
    * larger one), which Jaccard misses entirely when the container is
    * much bigger (J = |A|/|B| → 0 while containment = 1).
    *
    * Asymmetric PPJoin variant: only the probe (smaller) side can be
    * prefix-filtered — if c ≥ ⌈0.9·|A|⌉ then A misses at most
    * |A|−⌈0.9|A|⌉ of its own tokens, so one of its first
    * |A|−⌈0.9|A|⌉+1 sorted tokens must be shared — while the index
    * (larger) side explodes fully: that full explode IS the inverted
    * index, the same shuffle volume a word count moves, keyed by 8-byte
    * token hashes. The (n, id) orientation makes each unordered pair
    * probe exactly once; exact two-pointer verification absorbs hash
    * collisions. No length-ratio filter applies — containment pairs are
    * precisely the ones whose sizes diverge. */
  def ngramContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = toksetTable(spark, sfDir)
    val prefix = sets.select(col("doc_id"), col("source"), col("n"),
      posexplode(slice(col("tokset"), lit(1),
        (col("n") - expr("(n * 9 + 9) div 10") + 1).cast("int"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("source"), col("n"), col("pos"),
        xxhash64(col("tok"), col("source")).as("tokh"))
    val index = sets.select(col("doc_id"), col("source"), col("n"),
      posexplode(col("tokset")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("source"), col("n"), col("pos"),
        xxhash64(col("tok"), col("source")).as("tokh"))
    // positional filter, the [[ngramJaccardPairs]] doctrine adapted to
    // containment: c ≤ 1 + min(ns − pa, nb − pb) and c ≥ 0.9·ns ⟺
    // 10c ≥ 9ns, so a collision can only witness a qualifying pair when
    // 10·(1 + min(...)) ≥ 9·ns. Lossless for the pair set (the first
    // common token is within the probe's prefix and passes); the exact
    // verify below is unchanged, so results are identical.
    val cand = prefix.as("a").join(index.as("b"),
        col("a.tokh") === col("b.tokh") && col("a.source") === col("b.source") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))) &&
          (lit(1) + least(col("a.n") - col("a.pos") - 1,
            col("b.n") - col("b.pos") - 1)) * 10 >= col("a.n") * 9)
      .select(col("a.doc_id").as("doc_small"), col("b.doc_id").as("doc_big"))
      .distinct()
    val isect = graft.functions.VectorFunctions
      .sortedIntersectCount(col("set_s"), col("set_b")).cast("long")
    cand
      .join(sets.select(col("doc_id").as("doc_small"), col("tokset").as("set_s"),
        col("n").as("ns")), "doc_small")
      .join(sets.select(col("doc_id").as("doc_big"), col("tokset").as("set_b")), "doc_big")
      .withColumn("c", isect)
      .withColumn("containment", col("c") * lit(1.0) / col("ns"))
      .filter(col("containment") >= 0.9)
      .select(col("doc_small"), col("doc_big"), round(col("containment"), 6).as("containment"))
      .orderBy("doc_small", "doc_big")
  }

  // --- MinHash -------------------------------------------------------------

  /** Signature geometry; the universal-hash constants over GF(2³¹−1)
    * live in [[graft.functions.MinHashSig]]. */
  private val K = 64
  private val BANDS = 16 // r = K / BANDS = 4 rows per band
  private val P = graft.functions.MinHashSig.P

  /** Band-hash mixing constants (all < p): the band key is the GF(2³¹−1)
    * linear combination Σᵣ sig[4j+r]·BC(r) + j·BC(4) (each product taken
    * mod p before the sum, so every intermediate stays < 2⁶² under ANSI
    * arithmetic). Chosen over a black-box hash (xxhash64) because the
    * combination is plain integer arithmetic both engines evaluate
    * identically — it is what makes the LSH bucketing SQL-oracle-able.
    * Distribution: sig values are ~uniform on [0, p), a fixed nonzero
    * linear form over GF(p) preserves that, so bucket keys stay uniform
    * (within-p birthday collisions only add verified-away candidates). */
  private val BC: Array[Long] =
    Array(1103515245L, 1299709L, 15485863L, 32452843L, 104395301L)

  /** MinHash + LSH banded near-dup: estimate Jaccard via K minhashes,
    * bucket by band hashes (any band collision ⇒ candidate), then keep
    * pairs whose signature-agreement estimate is ≥ 0.8.
    *
    * With r=4 rows/band, b=16 bands the candidate curve is
    * P(candidate) = 1-(1-j⁴)¹⁶: j=0.8 → 0.9997, j=0.5 → 0.64, j=0.3 → 0.12
    * — high recall at the 0.8 target with the far tail cheaply pruned
    * before exact verification.
    *
    * Fully oracle-checked: the md5-based [[graft.functions.MinHashSig]]
    * signatures and the GF(2³¹−1) band keys are exact integer arithmetic
    * mirrored in the DuckDB SQL (constants interpolated from the same
    * Scala arrays). The ScalaTest spec additionally checks
    * recall/precision against the exact [[ngramJaccard]] semantics. */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // One narrow-map pass computes the K-wide signature per document via
    // the native MinHashSig expression (no explode, no shuffle — the
    // earlier explode + 64-min-aggregate formulation shuffled |tokens|
    // rows).
    //
    // The explicit spread matters: a compact source (here one small
    // parquet split) would otherwise flow the whole signature/band
    // pipeline through a single task even though the DOWNSTREAM pair
    // work it seeds explodes 1000× (measured 5× on the whole operator).
    // Guarded by the scan's split count — a multi-split production scan
    // skips the shuffle (Tables.spreadCompactSource, r19).
    val sig = graft.Tables.spreadCompactSource(docs)
      .select(col("doc_id"),
        // array_distinct first (r18): a duplicated token contributes the
        // same 64 transformed hash values, so the slot minima — and the
        // signature — are bit-identical on the distinct set, while each
        // duplicate occurrence skips its md5 + K transforms (the kernel
        // is the operator's CPU bulk)
        graft.functions.VectorFunctions.minhashSig(array_distinct(toks), K)
          .as("sig"))
    // LSH runs at the UNIQUE-SIGNATURE level, one representative per
    // distinct signature. Exact-duplicate families (boilerplate pages at
    // corpus scale — the fixture's largest is 324 docs with one
    // signature) collide in EVERY band, so a doc-level bucket join
    // re-enumerates each member×member pair 16× into the candidate
    // distinct — and because a pair's 16 collisions land in 16 different
    // band partitions, map-side partial aggregation removes none of it.
    // Measured on a ×10 corpus (ScaleStress r7): 469M-row distinct, 35×
    // runtime for 10× data (exponent 1.55). Grouping first cuts the raw
    // pair volume 3× at sf0.1 and restores ~linear scaling; member pairs
    // are re-expanded AFTER verification, so the output is IDENTICAL
    // row for row (within-group pairs carry est = 1.0 by construction).
    val groups = PinCache.pinned(sig.groupBy("sig")
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members")))
    // (band construction shared with the incremental streaming
    // maintenance — see [[bandExplode]])
    // Band rows CARRY the signature (256 B/rep — K packed ints; the
    // GF(2³¹−1) codomain fits int exactly) into the bucket join, so
    // verification runs INLINE in the join stage and candidates never
    // reach an exchange — see the [[verified]] note below for why this
    // beats the two-phase distinct-then-join-sigs formulation this
    // replaced. The explicit NUMBERED repartition on the join keys pins
    // the join-input exchange to the configured partition count: AQE
    // coalesces ENSURE_REQUIREMENTS exchanges by their INPUT size, blind
    // to the ~200× pair fan-out behind this one (the ×10 StageAudit
    // measured the whole enumeration squeezed into 27 AQE-coalesced
    // tasks, 12 GB of aggregate spill — the external-sort cascade that
    // pushed the ×100 exponent to 1.28 in SCALE_r8_x100.json).
    // REPARTITION_BY_NUM is never coalesced, the join reuses the
    // partitioning (this replaces the exchange, not adds one), and the
    // self-join's two reads share ONE exchange write via ReusedExchange.
    val bands = bandExplode(groups.select(col("rep"), col("sig")), "rep")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("band_idx"), col("band_hash"))
    // Candidate generation + verification, one pipelined stage: bucket
    // self-join over representatives (the 64-bit band hash keeps buckets
    // uniform, so per-key sort-merge groups stay moderate — measured 4×
    // faster than the blocked [[PairEnum]] decomposition here; when a
    // band degenerates, switch to PairEnum.blockedSelfJoinPairs as
    // simhashPairs does), then the unbiased MinHash Jaccard estimator —
    // a native codegen'd array-compare, O(pairs · K) with K constant, no
    // second scan of the documents — filters each enumerated pair IN THE
    // JOIN STAGE. Only the ~500×-smaller verified stream is ever
    // shuffled (the distinct that removes multi-band duplicates now
    // deduplicates survivors, not candidates). The formulation this
    // replaced shipped the RAW candidate stream through the engine's
    // largest exchange (×100 audit: 1.26e9 rows) into a distinct whose
    // map-side partial aggregation collapsed ~nothing — a pair's 16 band
    // collisions hash to 16 DIFFERENT partitions, so within-task
    // duplicates are structurally absent (StageAudit ×10: 128M of 136M
    // raw candidates survived the partial agg, which still burned the
    // stage's hash-map + 12 GB spill) — and then joined candidates back
    // to `groups` TWICE to fetch the very signatures the band rows
    // already knew. Trade: the band exchange grows 24 B → ~280 B/row
    // (sig payload, ~linear, sequential I/O), in exchange for deleting
    // the candidate-volume exchange, its 1.4e9-row hash aggregation, and
    // both rep-keyed verification joins — every super-linear term the
    // ×100 audit caught. Member arrays still attach AFTER the filter
    // (below): attaching them before would push pair_volume × |members|
    // bytes through the join for rows about to be dropped.
    val est = graft.functions.VectorFunctions
      .arrayEqCount(col("x.sig"), col("y.sig")).cast("double") / K
    val verified = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("rep_a"), col("y.rep").as("rep_b"),
        est.as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.8)
      .distinct()
    val crossPairs = verified
      .join(groups.select(col("rep").as("rep_a"), col("members").as("members_a")), "rep_a")
      .join(groups.select(col("rep").as("rep_b"), col("members").as("members_b")), "rep_b")
      // expand back to doc pairs: groups partition the corpus, so no pair
      // is emitted twice; member ids of different groups interleave, so
      // the (a,b) order is re-normalized per pair
      .select(explode(col("members_a")).as("da"), col("members_b"),
        col("est_jaccard"))
      .select(col("da"), explode(col("members_b")).as("db"), col("est_jaccard"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("est_jaccard"))
    // within-group pairs: identical signatures agree in every band and
    // every slot — candidates with est exactly 1.0, enumerated in-row
    // from the sorted member array (i < j keeps doc_a < doc_b)
    val withinPairs = groups.filter(size(col("members")) > 1)
      .select(posexplode(col("members")).as(Seq("ia", "doc_a")), col("members"))
      .select(col("doc_a"), col("ia"), posexplode(col("members")).as(Seq("ib", "doc_b")))
      .filter(col("ia") < col("ib"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("est_jaccard"))
    crossPairs.unionAll(withinPairs).orderBy("doc_a", "doc_b")
  }

  // --- SimHash -------------------------------------------------------------

  /** 64-bit SimHash per document: tf-weighted ±1 vote per bit of each
    * token's hash, sign of the vote sum sets the bit — computed by the
    * single-pass native [[graft.functions.SimHash64]] expression, so the
    * operator is a pure narrow map (zero shuffle; the earlier
    * explode-over-(token × 64 bits) formulation shuffled tokens·64 rows
    * per document). */
  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashSigs(spark, sfDir).orderBy("doc_id")

  /** [[simhash]] without the presentation sort (for composition —
    * [[simhashPairs]] repartitions immediately, so a sort here would be
    * paid and thrown away). */
  private def simhashSigs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.VectorFunctions.simhash64(toks).as("simhash64"))

  /** SimHash near-dup pairs: block on 4 × 16-bit bands (a pair within
    * Hamming ≤ 3 of 64 bits must agree on ≥1 full band by pigeonhole for
    * ≤3 flipped bands; we use it as a recall-friendly candidate filter),
    * then verify true Hamming distance ≤ 8 with bit_count(xor). */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // same guarded compact-source spread rationale as in minhashLsh
    val sh = graft.Tables.spreadCompactSource(simhashSigs(spark, sfDir))
    // Banding runs at the UNIQUE-SIGNATURE level for the same reason
    // minhashLsh does: an identical-signature family (exact-dup
    // boilerplate) collides in all 4 bands, so doc-level banding
    // re-enumerates each member×member pair 4× into the candidate
    // distinct — volume quadratic in the largest family, and the 4
    // collisions land in different shuffle partitions so map-side
    // aggregation can't reduce it. One representative per distinct
    // signature goes through banding; member pairs are re-expanded
    // after the Hamming verify (within-family pairs have distance 0 by
    // construction, cross-family pairs all share their reps' distance).
    val groups = PinCache.pinned(sh.groupBy("simhash64")
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members")))
    val bands = groups.select(col("rep"), col("simhash64"),
      posexplode(array((0 until 4).map(j =>
        expr(s"shiftright(simhash64, ${16 * j}) & 65535")): _*)).as(Seq("band_idx", "band_val")))
    val repPairs = PairEnum.blockedSelfJoinPairs(
        bands, Seq("band_idx", "band_val"), "rep", Seq("simhash64"))
      .select(col("a_rep").as("rep_a"), col("b_rep").as("rep_b"),
        col("a_simhash64").as("sh_a"), col("b_simhash64").as("sh_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("long"))
      .filter(col("hamming") <= 8)
    val crossPairs = repPairs
      .join(groups.select(col("rep").as("rep_a"), col("members").as("members_a")), "rep_a")
      .join(groups.select(col("rep").as("rep_b"), col("members").as("members_b")), "rep_b")
      .select(explode(col("members_a")).as("da"), col("members_b"), col("hamming"))
      .select(col("da"), explode(col("members_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val withinPairs = groups.filter(size(col("members")) > 1)
      .select(posexplode(col("members")).as(Seq("ia", "doc_a")), col("members"))
      .select(col("doc_a"), col("ia"), posexplode(col("members")).as(Seq("ib", "doc_b")))
      .filter(col("ia") < col("ib"))
      .select(col("doc_a"), col("doc_b"), lit(0L).as("hamming"))
    crossPairs.unionAll(withinPairs).orderBy("doc_a", "doc_b")
  }

  // --- Clustering ----------------------------------------------------------

  /** Near-dup clustering: connected components over the exact near-dup
    * pair graph ([[ngramJaccard]] edges), every document labeled with the
    * smallest doc_id reachable through near-dup links — the step that
    * turns pairwise similarity into dedup DECISIONS (one keeper per
    * cluster, the rest dropped).
    *
    * Algorithm: [[connectedComponents]] over the pair graph — union-find
    * on the driver when the pairs fit its row budget, else min-label
    * propagation plus pointer jumping as pure DataFrame ops, one
    * [[Fixpoint]] round each. Cluster sizes are a window count over the
    * label, so the labels are not joined back to their own aggregate.
    *
    * Scale: near-dup clusters at J ≥ 0.9 are near-cliques (diameter ≤ ~3),
    * so the loop converges in a handful of rounds even at 100 TB, and
    * pointer jumping bounds adversarial long chains at O(log diameter)
    * rounds.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = ngramJaccardPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val nodes = Tables.documents(spark, sfDir).select(col("doc_id"))
    connectedComponents(nodes, pairs)
      .select(col("doc_id"), col("label").as("cluster_id"),
        count(lit(1)).over(Window.partitionBy("label")).as("cluster_size"),
        (col("doc_id") === col("label")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** Band rows `(id, sig, band_idx, band_hash)` for an `(id, sig)` frame
    * — the LSH banding shared by the one-shot [[minhashLsh]] and the
    * incremental streaming maintenance
    * ([[graft.streaming.StreamOps.incrementalDedupRun]]): K/BANDS-slot
    * band hashes mixed over GF(P) with the same constants, so a pair
    * collides in the streaming store iff it collides in the batch
    * operator. */
  private[graft] def bandExplode(df: DataFrame, idCol: String): DataFrame = {
    val r = K / BANDS
    val bandCols = (0 until BANDS).map { j =>
      val mixed = (0 until r)
        .map(i => (element_at(col("sig"), j * r + i + 1) * lit(BC(i))) % P)
        .reduce(_ + _) + lit(j * BC(4) % P)
      (mixed % P).as(s"band$j")
    }
    df.select(col(idCol) +: col("sig") +: bandCols: _*)
      .select(col(idCol), col("sig"),
        posexplode(array((0 until BANDS).map(j => col(s"band$j")): _*))
          .as(Seq("band_idx", "band_hash")))
  }

  /** Signature width (shared with the incremental streaming dedup). */
  private[graft] def SigK: Int = K

  /** Reusable connected components: `nodes` (doc_id) + undirected `pairs`
    * (doc_a, doc_b) of Long ids → (doc_id, label) with label = min node
    * id reachable. `pairs` is checkpointed once on entry (its two edge
    * directions would otherwise each re-execute the pair enumeration),
    * and that checkpoint's action also counts its rows.
    *
    * A pair graph of at most [[Fixpoint.localFinishRows]] rows never runs
    * a round: [[Fixpoint.localFinish]] packs its rows to the driver once
    * (a `local` [[Fixpoint]] job) and they are labelled by min-root
    * union-find there ([[minRootLabels]]).
    *
    * A larger one runs [[Fixpoint.run]] rounds of min-label propagation
    * over edges PLUS pointer jumping (label ← label's label): propagation
    * alone needs O(diameter) rounds — catastrophic for the adversarial
    * long-chain components a 100 TB dedup graph can contain — while the
    * jump step halves pointer-chain depth every round, so convergence is
    * O(log diameter) (a 10M-node chain resolves in ~25 rounds, not 10M).
    * Every label value is itself a node id, so the jump is a plain
    * self-equi-join. Both paths give the same labels.
    *
    * Only edge-involved nodes are labelled — the work scales with the
    * duplicate subgraph, not the corpus — and isolated nodes rejoin
    * afterwards with their own id as label. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(nodes, pairs, Fixpoint.localFinishRows)

  /** [[connectedComponents]] with a driver budget of `localRows` pair
    * rows; `0` forces the rounds. */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      localRows: Int): DataFrame = {
    val labels = Fixpoint.localFinish(pairs, localRows)(
      minRootLabels(pairs.sparkSession, _))(roundLabels)
    nodes.select(col(nodes.columns(0)).as("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
  }

  /** [[connectedComponents]]' distributed rounds over the checkpointed
    * pairs `p`. */
  private def roundLabels(p: DataFrame): DataFrame = {
    val edges = p.select(col(p.columns(0)).as("src"), col(p.columns(1)).as("dst"))
      .union(p.select(col(p.columns(1)).as("src"), col(p.columns(0)).as("dst")))
      .persist()
    // The fixpoint only runs over EDGE-INVOLVED nodes: a node with no
    // near-dup edge is its own component by definition and re-deriving
    // that through O(log d) join rounds would make the loop scale with
    // the corpus instead of with the (far smaller) duplicate subgraph.
    // Isolated nodes rejoin with label = own id after convergence.
    val init = Fixpoint.eagerCheckpoint(edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")))
    try Fixpoint.run("connectedComponents", init) { (labels, _) =>
      val nbrMin = edges.join(labels, col("src") === col("doc_id"))
        .groupBy(col("dst"))
        .agg(min("label").as("nbr_min"))
      // prev rides along through propagation + jump, so the progress
      // predicate needs no extra join against the previous generation
      val prop = labels.join(nbrMin, col("doc_id") === col("dst"), "left_outer")
        .select(col("doc_id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // Progress = labels changed this round. Labels only ever decrease,
      // so zero changed IS the fixpoint; the count can't give a false
      // positive, unlike a Σlabel equality probe, which can wrap around
      // Long on billion-node/large-id graphs.
      Fixpoint.Round(prop
          .join(prop.select(col("doc_id").as("p_id"), col("label").as("p_label")),
            col("label") === col("p_id"))
          .select(col("doc_id"), col("prev"), col("p_label").as("label")),
        col("label") =!= col("prev"), _.select("doc_id", "label"))
    } finally edges.unpersist()
  }

  /** Min-root union-find over packed edge rows `(x, y)` of Long ids, on
    * the driver: every id that occurs maps to the least id connected to
    * it, returned as a local relation `(doc_id, label)`. Ids are ranked
    * by [[Fixpoint.Packed.index]] and a union keeps the smaller rank as
    * root, so a root is always its set's minimum. Rows with a null end
    * join nothing, as the rounds' equi-joins skip them. The label rows
    * are `UnsafeRow`s over one shared buffer (8 B of null bits and two
    * longs each), so the relation costs no `Row` or boxed id. */
  private[graft] def minRootLabels(spark: SparkSession, p: Fixpoint.Packed): DataFrame = {
    val (ids, end) = p.index
    val n = ids.length
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    for (i <- 0 until p.rows) if (end(2 * i) >= 0 && end(2 * i + 1) >= 0) {
      val rx = find(end(2 * i))
      val ry = find(end(2 * i + 1))
      if (rx < ry) parent(ry) = rx else if (ry < rx) parent(rx) = ry
    }
    val RowBytes = 24
    val buf = new Array[Byte](n * RowBytes)
    val rows = Array.tabulate[InternalRow](n) { i =>
      val at = Platform.BYTE_ARRAY_OFFSET + i.toLong * RowBytes
      Platform.putLong(buf, at + 8, ids(i))
      Platform.putLong(buf, at + 16, ids(find(i)))
      val row = new UnsafeRow(2)
      row.pointTo(buf, at, RowBytes)
      row
    }
    ColumnBridge.ofRows(spark, LocalRelation(
      Seq(AttributeReference("doc_id", LongType, nullable = false)(),
        AttributeReference("label", LongType, nullable = false)()),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows)))
  }

  /** Cross-document repeated-span detection — the substring-level exact
    * dedup signal (the "deduplicating training data" family: spans
    * repeated verbatim across documents mark boilerplate/templates for
    * excision, a finer grain than whole-document dedup). Every 3-token
    * shingle is hashed (md5 — engine-portable) and the hashes are
    * aggregated; spans seen in ≥2 distinct documents are reported with
    * their document and occurrence counts.
    *
    * Scale shape: the explode shuffles tokens × 16 B hash keys — the same
    * volume a suffix-array shard build moves — and both counts are
    * map-side partially aggregated, so a boilerplate span occurring
    * millions of times arrives at its reducer as one partial per map
    * task, not one row per occurrence. No pair space anywhere. The
    * shifted-slice zip_with shingling (not element_at in a lambda)
    * avoids the O(tokens²) re-split trap documented at
    * [[TextOps.docShingleSketch]]. */
  def dupNgramSpans(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.spreadCompactSource(Tables.documents(spark, sfDir))
      // guarded compact-source spread — the substringSpanPairs note applies
      .filter(size(toks) >= 3)
      .select(col("doc_id"), toks.as("t"), (size(toks) - 2).as("m"))
      .select(col("doc_id"), explode(shingleHashes).as("shingle_hash"))
      .groupBy("shingle_hash")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy("shingle_hash")

  /** Dedup YIELD CURVE — how many documents a near-dup pass would drop
    * at each candidate threshold (τ ∈ {0.80, 0.85, 0.90, 0.95, 1.0}),
    * the sizing query run BEFORE committing to a threshold (the dedup
    * twin of `quality_yield_curve`; every production near-dup deployment
    * picks τ off exactly this curve). Drops follow the chain-free
    * keep-first rule the dedup family ships: a document is dropped at τ
    * iff it has ANY smaller-id neighbor with jaccard ≥ τ — so the curve
    * is monotone non-increasing in τ by construction.
    *
    * Scale shape: the exact pair space is enumerated ONCE at the curve's
    * floor (τ = 0.8 — the same PPJoin prefix filter as
    * [[ngramJaccardPairs]], prefix length n − ⌈0.8n⌉ + 1 and the 0.8
    * length-ratio window, all exact integer arithmetic), each pair then
    * fans out array-side to the thresholds it clears, and the counts are
    * one tiny (τ, doc)-distinct + rollup. Below ~0.8 exact enumeration
    * stops being the production shape (candidate volume grows steeply as
    * the prefix filter weakens) — practice extends the curve's low end
    * by sampling, which this operator deliberately does not fold in. */
  def dedupYieldCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = toksetTable(spark, sfDir)
    // prefix length n − ⌈0.8n⌉ + 1 (⌈4n/5⌉ = (4n+4) div 5, exact ints)
    val prefix = sets.select(col("doc_id"), col("source"), col("n"),
      posexplode(slice(col("tokset"), lit(1),
        (col("n") - expr("(n * 4 + 4) div 5") + 1).cast("int"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("source"), col("n"), col("pos"),
        xxhash64(col("tok"), col("source")).as("tokh"))
    // positional filter at the curve's floor τ = 0.8 (the
    // [[ngramJaccardPairs]] doctrine): j ≥ 0.8 ⟺ 9c ≥ 4(na+nb), and
    // c ≤ 1 + min(na − pa, nb − pb) — lossless for the pair set, exact
    // verify unchanged.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tokh") === col("b.tokh") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 5 >= col("b.n") * 4 && col("b.n") * 5 >= col("a.n") * 4 &&
          (lit(1) + least(col("a.n") - col("a.pos") - 1,
            col("b.n") - col("b.pos") - 1)) * 9 >=
            (col("a.n") + col("b.n")) * 4)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val isect = graft.functions.VectorFunctions
      .sortedIntersectCount(col("set_a"), col("set_b")).cast("long")
    val taus = Seq(0.80, 0.85, 0.90, 0.95, 1.0)
    val pairs = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("tokset").as("set_a"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("tokset").as("set_b"),
        col("n").as("nb")), "doc_b")
      .withColumn("c", isect)
      .withColumn("jaccard", col("c") * lit(1.0) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_b"), col("jaccard"))
    val dropped = pairs
      .select(col("doc_b"), explode(filter(
        array(taus.map(lit): _*), t => col("jaccard") >= t)).as("tau"))
      .groupBy("tau").agg(countDistinct(col("doc_b")).as("n_dropped"))
    val total = sets.agg(count(lit(1)).as("n_docs"))
    // left join from the full τ list so thresholds dropping nothing
    // still chart (n_dropped = 0)
    spark.range(1).select(explode(array(taus.map(lit): _*)).as("tau"))
      .join(dropped, Seq("tau"), "left")
      .crossJoin(broadcast(total))
      .select(col("tau"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_docs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy("tau")
  }

  /** Dedup-pipeline acceptance metric as a DISTRIBUTED operator — the
    * near-dup analogue of [[SimOps.annRecallEval]]: pair recall of the
    * deployed MinHash-LSH banding ([[minhashLsh]]: K=64, 16 bands × 4
    * rows, est ≥ 0.8) against the exact ngram-Jaccard ground truth
    * ([[ngramJaccardPairs]]: within-source jac ≥ 0.9). Pair recall is
    * the number a dedup deployment gates a banding configuration on
    * (the SEMDEDUP_RECALL doctrine, here as an in-engine query a 100 TB
    * pipeline runs after a banding change rather than a committed audit
    * artifact). Both sides are the registry operators' OWN plans — the
    * metric measures exactly what ships; the hit check is a pair-keyed
    * semi-join of the two pair sets (each ≪ corpus-sized), and the
    * output is one scalar row. Fully deterministic, so the oracle
    * composes the two tiers' CTE chains (minhash CTEs renamed m* to
    * coexist with the Jaccard chain's names). n_lsh is reported next to
    * recall because banding changes trade exactly those two numbers
    * (candidate volume vs misses). */
  def dedupRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    // the truth chain feeds two aggregates (n_truth, n_found) and the
    // LSH chain two (n_found, n_lsh) — pin both pair sets so the
    // expensive candidate joins run ONCE instead of relying on AQE
    // exchange reuse (r15 advice; the oracle pins the same reuse with
    // MATERIALIZED CTEs). The eager checkpoint also truncates the
    // lineage, so neither aggregate can re-derive the PPJoin/band joins.
    val truth = Fixpoint.eagerCheckpoint(
      ngramJaccardPairs(spark, sfDir).select("doc_a", "doc_b"))
    val found = Fixpoint.eagerCheckpoint(
      minhashLsh(spark, sfDir).select("doc_a", "doc_b"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nFound = truth.join(found, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    val nLsh = found.agg(count(lit(1)).as("n_lsh"))
    nTruth.crossJoin(nFound).crossJoin(nLsh)
      .select(col("n_truth"), col("n_found"),
        (col("n_found").cast("double") / col("n_truth").cast("double"))
          .as("recall"),
        col("n_lsh"))
  }

  /** The TOKEN-SET projection of the PPJoin family's input,
    * (doc_id, source, sorted-distinct token set, n), pinned once per
    * corpus ([[PinCache.pinned]]): [[ngramJaccardPairs]],
    * [[ngramContainment]] and [[dedupYieldCurve]] all read it, and
    * before the pin each persisted a PRIVATE copy per call for the
    * session lifetime (r15 advice). In production it IS the written
    * shingle-set table, rebuilt per ingest.
    *
    * NOTE (r18, measured): a rarest-first (df-ascending) prefix order —
    * the canonical PPJoin global order — was tried here and REVERTED. On
    * this corpus the candidate join's output is only ~1.34× the true
    * pair volume (3.85 M collisions for 2.88 M verified pairs at sf0.1:
    * near-dup families dominate, and family members collide under ANY
    * order), so the reorder cut nothing while its (source, token) df
    * aggregate + join added ~2 s to every consumer's tokset build (the
    * bench clears the cache per query, so five queries pay it). On a
    * corpus whose candidate volume is collision-driven (hot tokens,
    * length spread) the df-ordered prefix is the right production lever
    * — it steers candidates only, never results. */
  private def toksetTable(spark: SparkSession, sfDir: String): DataFrame =
    PinCache.pinned(graft.Tables.spreadCompactSource(Tables.documents(spark, sfDir))
      // compact source must not serialize the pipeline (guarded spread)
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(toks)).as("tokset"))
      .withColumn("n", size(col("tokset"))))

  /** Shared day-2 preamble: the per-doc digest table (doc_id + 16-byte
    * hash, ~25 B a row at any corpus size, computed in ONE corpus pass),
    * pinned once per corpus ([[PinCache.pinned]]) and shared by BOTH
    * day-2 dedup forms — in production it IS the written digest table,
    * rebuilt per ingest (r14 advice) — with every row carrying the
    * broadcast snapshot/batch `cut` (max(doc_id) DIV 2 — no driver-side
    * collect). Both day-2 dedup forms and both their oracles key off this
    * ONE split definition. */
  private def snapshotBatchSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = PinCache.pinned(Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.bagFingerprint.as("content_hash")))
    docs.crossJoin(broadcast(docs.agg(expr("max(doc_id) DIV 2").as("cut"))))
  }

  /** INCREMENTAL dedup — the day-2 ingestion shape: a new batch of
    * documents is deduplicated against the fingerprint STORE of a prior
    * snapshot (here: the lower half of the doc_id space, a data-derived
    * cut — in production, yesterday's bucketed digest table) AND within
    * itself (keep-first by arrival order). The digest is the
    * order-insensitive BAG fingerprint ([[TextOps.docFingerprint]]'s
    * md5 over the sorted distinct token set — raw-text md5 is near-
    * collision-free on this corpus, which would leave the decision
    * branches untested). Every doc in the batch gets a decision:
    * `dup_of_snapshot` (digest already in the store), `dup_in_batch`
    * (an earlier batch doc has it), `new`.
    *
    * Scale shape: only 16-byte digests ever shuffle — the store join is
    * the `decontaminate_prefilter` topology (hash equi-join the store,
    * which at 100 TB is bucketed on the digest so the probe is
    * shuffle-free on the store side), and the within-batch keep-first
    * is one map-side-combinable min per digest, not a window over
    * bodies. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = snapshotBatchSplit(spark, sfDir)
    // one hash exchange carries BOTH decisions: per digest, does the
    // snapshot side hold it (store membership) and what is the batch's
    // first arrival — a map-side-combinable aggregate, then one join of
    // the batch rows against the per-digest summary (broadcast when the
    // distinct-digest side fits, shuffle join above that).
    val summary = keyed.groupBy("content_hash").agg(
      max(when(col("doc_id") <= col("cut"), 1L).otherwise(0L)).as("in_snap"),
      min(when(col("doc_id") > col("cut"), col("doc_id"))).as("first_in_batch"))
    keyed.filter(col("doc_id") > col("cut"))
      .select(col("doc_id"), col("content_hash"))
      .join(summary, Seq("content_hash"))
      .select(col("doc_id"), col("content_hash"),
        when(col("in_snap") === 1L, lit("dup_of_snapshot"))
          .when(col("doc_id") > col("first_in_batch"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("decision"))
      .orderBy("doc_id")
  }

  /** Day-2 dedup with a BLOOM-PREFILTERED snapshot scan — the form of
    * [[dedupIncremental]] a production lake runs when the at-rest
    * snapshot dwarfs the daily batch (the 100-TB-vs-100-GB asymmetry).
    * The summary-aggregate form shuffles EVERY digest, snapshot included;
    * here the batch's digest set is summarized into a Bloom sketch
    * (`DataFrameStatFunctions.bloomFilter` — Spark's own
    * `util.sketch.BloomFilter`, the same class the engine's runtime
    * row-level filtering broadcasts for joins), the sketch is BROADCAST
    * to the snapshot scan (one copy per executor), and only snapshot digests that MIGHT
    * match a batch digest survive to the exact-confirm join. The bloom
    * never changes the answer: false NEGATIVES are impossible by the
    * sketch contract (every true snapshot dup reaches the join), and a
    * false POSITIVE matches no batch digest in the exact equi-join and
    * drops out — so the output is bit-identical to the unfiltered
    * computation and the SAME exact SQL oracles it (TextDedupSpec's
    * bloom test also replays the unfiltered path and asserts equality
    * plus measured prune effectiveness).
    *
    * Scale shape: the snapshot side is touched by exactly ONE narrow
    * scan+filter pass (no snapshot-sized shuffle anywhere — the only
    * exchange carries `matches + fpp·|snapshot|` survivor digests,
    * broadcastable once the batch fits); the sketch is built by one
    * tree-aggregate over the batch (the SMALL side) and is
    * driver-bounded at ~1.2 MB per 1M batch digests at the 1% fpp used
    * here — the same bounded-driver-state budget as the BPE vocabulary
    * gather. At petabyte snapshots fpp is the knob: survivor volume is
    * fpp-proportional, so size the sketch to what the exact-confirm join
    * should pay. */
  def dedupBloomPrefilter(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = snapshotBatchSplit(spark, sfDir)
    val batch = keyed.filter(col("doc_id") > col("cut"))
      .select(col("doc_id"), col("content_hash"))
    // one bounded action sizes the sketch; one tree-aggregate builds it
    val nBatch = math.max(1L, batch.count())
    val bloom = batch.stat.bloomFilter("content_hash", nBatch, 0.01)
    // Why a closure UDF and not the builtin bloom_filter_agg/might_contain
    // pair: might_contain only accepts a bloom built BY bloom_filter_agg
    // as a scalar subquery or literal — it cannot consume this
    // driver-built, explicitly-sized sketch (sizing by the measured batch
    // count at a chosen fpp IS the operator's knob). The UDF form loses
    // nothing that matters here: the plan still pushes the filter into
    // the digest-table scan (PLANS_r14 pin). The sketch is BROADCAST so
    // each executor holds one copy instead of a per-task closure
    // serialization (~1.2 MB per 1M batch digests — per-task bloat at
    // petabyte snapshot task counts), and the null guard matters because
    // BloomFilter.mightContain NPEs on null input.
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val mightMatch = udf((h: String) => h != null && bloomBc.value.mightContain(h))
    val snapSurvivors = keyed.filter(col("doc_id") <= col("cut"))
      .select(col("content_hash"))
      .filter(mightMatch(col("content_hash")))
      .distinct()
      .withColumn("in_snap", lit(1L))
    batch.join(snapSurvivors, Seq("content_hash"), "left_outer")
      .select(col("doc_id"), col("content_hash"),
        when(col("in_snap") === 1L, lit("dup_of_snapshot"))
          .otherwise(lit("new")).as("decision"))
      .orderBy("doc_id")
  }

  /** Cross-source contamination matrix — for every source pair
    * (src_a < src_b), how many DISTINCT SHARED BAG FINGERPRINTS
    * (order-insensitive content digests, [[TextOps.bagFingerprint]])
    * appear in both: `n_shared` counts shared content identities, so
    * multiple identical documents within a pair collapse to one — the
    * "which corpora overlap, and how much" report run before deciding a
    * corpus mixture ([[CurateOps.mixCorpora]]) or a dedup pass ordering.
    * (For document multiplicity, aggregate per-source doc counts per
    * fingerprint instead of the distinct source set.)
    * Keyed on the bag fingerprint for the same reason as
    * [[dedupIncremental]]: raw-text md5 is near-collision-free on this
    * corpus and would report an empty (untested) matrix.
    *
    * Scale shape: ONE hash exchange of 16-byte digests builds the
    * per-fingerprint distinct source set (`collect_set` dedups map-side,
    * so repeated copies within a source collapse before the shuffle);
    * the pair fan-out then happens ARRAY-SIDE over a set bounded by the
    * source catalog (a fixed small constant — 20 here, rarely more than
    * hundreds in production), never as a self-join of the corpus. The
    * final rollup keys on (src_a, src_b) — at most |sources|² rows. */
  def dedupCrossSource(spark: SparkSession, sfDir: String): DataFrame = {
    val sets = Tables.documents(spark, sfDir)
      .select(TextOps.bagFingerprint.as("h"), col("source"))
      .groupBy("h").agg(array_sort(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
    sets
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("ss")) - 2),
        i => transform(slice(col("ss"), i + 2, size(col("ss"))),
          b => struct(get(col("ss"), i).as("src_a"), b.as("src_b")))))).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  /** MAXIMAL cross-document repeated spans — the exact-substring dedup
    * shape (the "remove long verbatim repeats" pass of LLM-corpus
    * hygiene, suffix-array family): every maximal run of ≥ 4 consecutive
    * tokens shared verbatim by two documents of the same source, with
    * its position in both. [[dupNgramSpans]] counts duplicated 3-token
    * shingles corpus-wide; this op goes the rest of the way to SPANS —
    * which tokens, where, how long — the actionable output a span
    * excision pass consumes.
    *
    * Dataflow (no suffix array, no pair matrix):
    *  1. shingle postings: (3-gram hash at position i) per doc — the
    *     shifted-slice zip_with shingling, token-count×16 B shuffle;
    *  2. postings equi-join on (hash, source) with doc_a < doc_b: only
    *     colliding positions meet, each emitting a match point
    *     (doc_a, doc_b, ia, ib);
    *  3. run detection on each pair DIAGONAL (ia − ib): consecutive
    *     match points fuse via the classic islands trick (ia −
    *     row_number per diagonal is constant on a run) — one window
    *     whose partition key (doc_a, doc_b, diag) is a shuffle key,
    *     never a driver structure;
    *  4. per island: start positions + span length (run + k − 1),
    *     threshold ≥ 4 tokens (≥ 2 consecutive shingle collisions — a
    *     RUN, not an isolated shingle hit; a production excision pass
    *     raises the same filter constant to its policy length, ~50).
    *
    * A maximal t-token shared span appears as exactly t−2 consecutive
    * shingle collisions on one diagonal, so the reconstruction is exact
    * — no probabilistic caveat beyond md5 collisions, which could only
    * merge unrelated runs. The known hot spot is a boilerplate shingle
    * with document frequency d inside one source (d² match points); the
    * mitigation is IN CODE as the conf-gated [[capPostingsDf]] prefilter
    * (`spark.graft.spans.maxDf` — default off, loud when it drops;
    * spec-pinned and ×10-audited with a planted hot shingle), with
    * source-block salting and AQE skew splitting as the further
    * [[ngramJaccard]]-style levers. */
  def dedupSubstringSpans(spark: SparkSession, sfDir: String): DataFrame =
    substringSpanPairs(spark, sfDir)
      .orderBy("doc_a", "doc_b", "start_a", "start_b")

  /** Conf-gated df-cap prefilter for span-family shingle postings
    * ([[graft.GraftConf.spansMaxDf]]): computes within-block document
    * frequency per shingle key (one support-sized aggregate over the
    * postings), drops the postings of keys above the cap via a broadcast
    * anti-join (the hot set is tiny by definition — only keys BEYOND the
    * cap survive the filter), and logs the capped-key count — a silent
    * drop would read as "no boilerplate here" when the opposite is true.
    * No-op (and zero extra passes) when the conf is unset. */
  private def capPostingsDf(sh: DataFrame, keyCols: Seq[String]): DataFrame = {
    val spark = sh.sparkSession
    val cap = graft.GraftConf.spansMaxDf(spark)
    if (cap <= 0L) sh
    else {
      val hot = PinCache.pinned(sh.groupBy(keyCols.map(col): _*)
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") > cap)
        .select(keyCols.map(col): _*))
      val nHot = hot.count()
      if (nHot > 0)
        org.apache.logging.log4j.LogManager.getLogger("graft")
          .warn(s"spans.maxDf=$cap: dropping the postings of $nHot hot " +
            "shingle key(s); spans crossing only capped shingles are lost " +
            "(boilerplate by the cap's assumption)")
      sh.join(broadcast(hot), keyCols, "left_anti")
    }
  }

  /** [[dedupSubstringSpans]] without the presentation sort — the form
    * composed consumers ([[spanExcision]]) build on. */
  def substringSpanPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val minSpan = 4
    val sh = capPostingsDf(graft.Tables.spreadCompactSource(
      // guarded compact-source spread (the minhashLsh rationale): the
      // per-shingle md5s below are the operator's CPU bulk and would
      // otherwise run inside the one-split parquet scan's single task
      Tables.documents(spark, sfDir))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), col("source"), toks.as("t"), (size(toks) - 2).as("m"))
      .select(col("doc_id"), col("source"), posexplode(shingleHashes))
      .select(col("doc_id"), col("source"), col("pos").cast("long").as("pos"),
        col("col").as("h")), Seq("h", "source"))
    val matches = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ka"), col("b.doc_id").as("kb"),
        col("a.pos").as("ia"), col("b.pos").as("ib"))
    fuseSpans(matches, minSpan)
      .select(col("ka").as("doc_a"), col("kb").as("doc_b"),
        col("start_a"), col("start_b"), col("span_len"))
  }

  /** The islands run-fusion TAIL shared by [[substringSpanPairs]] and
    * [[decontaminateSpans]] — match points (ka, kb, ia, ib) → maximal
    * spans (ka, kb, start_a, start_b, span_len). Factored so the two
    * ops' span arithmetic (the diagonal grouping, the +3 shingle-width
    * constant, the ≥ minSpan gate) cannot drift apart — the same reason
    * [[unionRanges]] exists (review finding). */
  private def fuseSpans(matches: DataFrame, minSpan: Int): DataFrame = {
    val wRun = Window
      .partitionBy(col("ka"), col("kb"), col("ia") - col("ib"))
      .orderBy("ia")
    matches
      .withColumn("diag", col("ia") - col("ib"))
      .withColumn("isl", col("ia") - row_number().over(wRun))
      .groupBy("ka", "kb", "diag", "isl")
      .agg(min(col("ia")).as("start_a"), (max(col("ia")) - min(col("ia")) + 3)
        .as("span_len"))
      .filter(col("span_len") >= minSpan)
      .select(col("ka"), col("kb"), col("start_a"),
        (col("start_a") - col("diag")).as("start_b"), col("span_len"))
  }

  /** SPAN-level decontamination — [[CurateOps.decontaminate]] catches
    * whole-document eval/train collisions by bag fingerprint; this op
    * goes below the document: every maximal run of ≥ 4 consecutive
    * tokens shared VERBATIM between an eval-set document (the
    * `doc_id % 97 = 0` slice, same eval set as the decontaminate tier)
    * and a training document, with its position in both — the
    * "eval leak spans" report a benchmark-hygiene pass consumes (the
    * n-gram-overlap decontamination of the GPT-3/PaLM appendix family,
    * with spans instead of a boolean). Same islands run-fusion as
    * [[substringSpanPairs]], but keyed on the shingle hash alone (no
    * source blocking — a leak across sources is still a leak) and with
    * the eval/train split replacing the doc_a < doc_b orientation.
    *
    * Scale shape: the eval side's postings are a tiny fraction of the
    * corpus (1/97 here; a fixed eval suite in production — there it
    * arrives as its own small table, which the second filtered scan
    * stands in for). The postings join keys on the 16-byte hash; AQE
    * broadcasts the eval side while it fits, and only MATCH POINTS
    * reach the islands windows — both keyed (eval_doc, train_doc,
    * diagonal), proportional to shared shingles, not the corpus. */
  def decontaminateSpans(spark: SparkSession, sfDir: String): DataFrame =
    decontaminateSpanPairs(spark, sfDir)
      .orderBy("eval_doc", "train_doc", "start_eval", "start_train")

  /** [[decontaminateSpans]] without the presentation sort — the form
    * composed consumers ([[decontaminateReport]]) build on. */
  def decontaminateSpanPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val minSpan = 4
    val sh = graft.Tables.spreadCompactSource(Tables.documents(spark, sfDir))
      // guarded compact-source spread — the substringSpanPairs note applies
      .filter(size(toks) >= 3)
      .select(col("doc_id"), toks.as("t"), (size(toks) - 2).as("m"))
      .select(col("doc_id"), posexplode(shingleHashes))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("h"))
    val ev = sh.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("ka"), col("pos").as("ia"), col("h"))
    val tr = sh.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("kb"), col("pos").as("ib"), col("h"))
    fuseSpans(ev.join(tr, "h").select(col("ka"), col("kb"), col("ia"), col("ib")),
        minSpan)
      .select(col("ka").as("eval_doc"), col("kb").as("train_doc"),
        col("start_a").as("start_eval"), col("start_b").as("start_train"),
        col("span_len"))
  }

  /** The per-source LEAK REPORT downstream of [[decontaminateSpans]] —
    * the rollup a benchmark-hygiene review reads first: for every
    * training source, how many leak spans it carries, how many distinct
    * eval documents they reach, how many of its own documents are
    * implicated, and the total leaked token mass. The actionable
    * prioritization ("which source do we scrub first") over the span
    * table's raw evidence.
    *
    * Scale shape: the span table is tiny (shared shingles only), so its
    * join back to the corpus for `source` broadcasts; the rollup is a
    * |sources|-row aggregate. */
  def decontaminateReport(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = decontaminateSpanPairs(spark, sfDir)
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("train_doc"), col("source"))
    spans.join(src, "train_doc")
      .groupBy("source")
      .agg(count(lit(1)).as("n_leak_spans"),
        countDistinct(col("eval_doc")).as("n_eval_docs_hit"),
        countDistinct(col("train_doc")).as("n_train_docs_hit"),
        sum(col("span_len")).cast("long").as("n_leaked_tokens"))
      .orderBy("source")
  }

  /** Span EXCISION — the cleanup stage downstream of
    * [[dedupSubstringSpans]]: every repeated span is removed from its
    * HIGHER-doc_id document (the lower-id copy is the keeper, the same
    * keep-first convention as [[dedupKeepFirst]]), overlapping excision
    * ranges are unioned, and each affected doc reports its excised
    * range count and removed/kept token totals — the accounting a
    * corpus-hygiene pass emits before rewriting shards.
    *
    * Interval union is the running-max islands trick: per doc, ranges
    * sorted by (start, end); a range whose start exceeds every previous
    * end opens a new island; `(doc, island)` groups collapse to merged
    * ranges. Both windows key on doc_id — shuffle keys proportional to
    * SPAN rows (23 at sf0.01), never to the corpus. */
  def spanExcision(spark: SparkSession, sfDir: String): DataFrame = {
    val spans = substringSpanPairs(spark, sfDir)
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("span_len")).as("e"))
    val ranges = unionRanges(spans)
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(toks).cast("long").as("n"))
    ranges.groupBy("doc_id")
      .agg(count(lit(1)).as("n_excised_ranges"),
        sum(col("e") - col("s")).as("n_tokens_removed"))
      .join(tok, "doc_id")
      .select(col("doc_id"), col("n_excised_ranges"), col("n_tokens_removed"),
        (col("n") - col("n_tokens_removed")).as("n_tokens_kept"))
      .orderBy("doc_id")
  }

  /** Distributed interval union: merge overlapping/touching [s, e)
    * ranges per doc_id — the running-max islands trick (a range whose
    * start exceeds every previous end opens a new island). Factored out
    * of [[spanExcision]] because the committed fixtures happen to carry
    * one range per doc, leaving the MERGE branch (`s <= prev_max`)
    * unexercised by the oracle — the spec drives this helper with
    * crafted overlap/touch/nest/disjoint cases directly. */
  private[graft] def unionRanges(spans: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("doc_id").orderBy("s", "e")
    spans
      .withColumn("prev_max",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("g", sum(
          when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
            .otherwise(0L)).over(wOrd))
      .groupBy("doc_id", "g")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
  }

  /** Unit-granular (CCNet-style "paragraph") dedup with keep-first
    * semantics: each document is segmented into consecutive
    * [[ParagraphUnitWords]]-word units (the fixture text has no newline
    * structure, so the fixed word window stands in for the paragraph
    * boundary a web corpus would provide); across the corpus, only the
    * FIRST occurrence of each distinct unit survives (smallest
    * (doc_id, upos) — the CCNet rule that removes boilerplate repeated
    * across pages while keeping one copy of it), and each doc's kept
    * units re-assemble in position order into the cleaned text.
    *
    * Scale shape: units are built ARRAY-SIDE from the one split
    * (`sequence` + `slice`, no word-level explode of the corpus); the
    * only corpus-sized exchanges are the unit-keyed window that ranks
    * occurrences (carrying (unit, doc_id, upos) — unit text, not
    * document bodies) and the doc-keyed regroup. A df-skewed unit (the
    * same boilerplate on millions of pages) concentrates ONE window
    * partition; the spans.maxDf prefilter precedent (DedupOps df cap)
    * applies if that tail ever dominates, and unlike the span family the
    * per-unit work here is rank-1 selection, not pairwise joins — the
    * hot partition costs its own size, never its square. */
  val ParagraphUnitWords = 10

  def dedupParagraphs(spark: SparkSession, sfDir: String): DataFrame = {
    val k = ParagraphUnitWords
    val units = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("nu",
        ceil(size(col("t")).cast("double") / k).cast("int"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("nu") - 1),
          i => concat_ws(" ", slice(col("t"), i * k + 1, lit(k)))))
          .as(Seq("upos", "unit")))
    val wFirst = Window.partitionBy("unit").orderBy("doc_id", "upos")
    units
      .withColumn("rk", row_number().over(wFirst))
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("rk") === 1, struct(col("upos"), col("unit"))))),
          s => s.getField("unit"))).as("kept_text"),
        count(lit(1)).as("n_units"),
        sum(when(col("rk") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_dropped_units"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "dedup_paragraphs"    -> (dedupParagraphs _),
    "span_excision"       -> (spanExcision _),
    "dedup_substring_spans" -> (dedupSubstringSpans _),
    "dedup_incremental"   -> (dedupIncremental _),
    "dedup_bloom_prefilter" -> (dedupBloomPrefilter _),
    "dedup_cross_source"  -> (dedupCrossSource _),
    "decontaminate_spans" -> (decontaminateSpans _),
    "decontaminate_report" -> (decontaminateReport _),
    "dup_ngram_spans"     -> (dupNgramSpans _),
    "dedup_containment"   -> (ngramContainment _),
    "dedup_exact_stats"   -> (dedupExactStats _),
    "dedup_keep_first"    -> (dedupKeepFirst _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_minhash_lsh"   -> (minhashLsh _),
    "dedup_simhash"       -> (simhash _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_recall_eval"   -> (dedupRecallEval _),
    "dedup_yield_curve"   -> (dedupYieldCurve _),
    "dedup_clusters"      -> (dedupClusters _))

  /** Every tier is oracled: the md5-portable base hash plus GF(2³¹−1)
    * band arithmetic make even the MinHash/SimHash sketches exactly
    * SQL-expressible (constants below are interpolated from the same
    * Scala arrays the native expressions use); clustering is oracled via
    * a recursive CTE computing min-reachable-id per document. */
  private val sqlP = P.toString

  /** The (aᵢ, bᵢ) universal-hash rows, from the same arrays
    * [[graft.functions.MinHashSig]] evaluates. */
  private def sqlMinhashParams: String = {
    val as = graft.functions.MinHashSig.aParams(K)
    val bs = graft.functions.MinHashSig.bParams(K)
    (0 until K).map(i => s"(${i}, ${as(i)}, ${bs(i)})").mkString(", ")
  }

  /** Shared CTE chain for the ngram-Jaccard pair graph (the straightforward
    * explode-join formulation the PPJoin-style Spark plan must equal). */
  private val sqlNgramPairCtes =
    """dt AS (
      |  SELECT DISTINCT doc_id, source, tok FROM (
      |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) t),
      |sizes AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY 1),
      |dtn AS (SELECT dt.doc_id, dt.source, dt.tok, sizes.n
      |        FROM dt JOIN sizes USING (doc_id)),
      |shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
      |    max(a.n) AS na, max(b.n) AS nb
      |  FROM dtn a JOIN dtn b
      |    ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
      |   AND a.n * 10 >= b.n * 9 AND b.n * 10 >= a.n * 9
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared CTE chain for the SimHash per-(doc, bit) vote sums: tf-weighted
    * ±1 per bit of the 64-bit md5 word — the SQL mirror of
    * [[graft.functions.SimHash64]]'s per-row loop. */
  private val sqlSimhashVotes =
    """tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |    FROM documents) t GROUP BY 1, 2),
      |hv AS (SELECT doc_id, tf,
      |    ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM tf),
      |votes AS (SELECT doc_id, bb.b AS b,
      |    sum(CASE WHEN ((h >> bb.b) & 1) = 1 THEN tf ELSE -tf END) AS v
      |  FROM hv CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared CTE chain for the eval-leak span table — the SQL mirror of
    * [[decontaminateSpanPairs]], used by both the span oracle and the
    * per-source report oracle so the two restatements cannot drift. */
  private val sqlLeakSpanCtes =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, CAST(i.i AS BIGINT) AS pos,
      |    md5(w[CAST(i.i + 1 AS INTEGER)] || ' ' ||
      |        w[CAST(i.i + 2 AS INTEGER)] || ' ' ||
      |        w[CAST(i.i + 3 AS INTEGER)]) AS h
      |  FROM t, unnest(range(0, len(w) - 2)) AS i(i)),
      |m AS (SELECT a.doc_id AS eval_doc, b.doc_id AS train_doc,
      |    a.pos AS ia, b.pos AS ib
      |  FROM sh a JOIN sh b ON a.h = b.h
      |  WHERE a.doc_id % 97 = 0 AND b.doc_id % 97 <> 0),
      |isl AS (SELECT eval_doc, train_doc, ia - ib AS diag, ia,
      |    ia - row_number() OVER (
      |      PARTITION BY eval_doc, train_doc, ia - ib ORDER BY ia) AS g
      |  FROM m),
      |sp AS (SELECT eval_doc, train_doc, diag,
      |    min(ia) AS start_eval, max(ia) - min(ia) + 3 AS span_len
      |  FROM isl GROUP BY eval_doc, train_doc, diag, g)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dedup_paragraphs" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |un AS (
        |  SELECT doc_id, CAST(t.u AS BIGINT) AS upos,
        |    array_to_string(ws[(t.u * 10 + 1):(t.u * 10 + 10)], ' ') AS unit
        |  FROM w, unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS t(u)),
        |rk AS (
        |  SELECT doc_id, upos, unit,
        |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, upos) AS rk
        |  FROM un)
        |SELECT doc_id,
        |  coalesce(string_agg(unit, ' ' ORDER BY upos) FILTER (WHERE rk = 1),
        |    '') AS kept_text,
        |  count(*) AS n_units,
        |  CAST(count(*) FILTER (WHERE rk > 1) AS BIGINT) AS n_dropped_units
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "decontaminate_spans" ->
      s"""WITH $sqlLeakSpanCtes
         |SELECT eval_doc, train_doc, start_eval,
         |  start_eval - diag AS start_train, span_len
         |FROM sp WHERE span_len >= 4
         |ORDER BY eval_doc, train_doc, start_eval, start_train""".stripMargin,
    "decontaminate_report" ->
      s"""WITH $sqlLeakSpanCtes,
         |lk AS (SELECT eval_doc, train_doc, span_len
         |  FROM sp WHERE span_len >= 4)
         |SELECT d.source,
         |  CAST(count(*) AS BIGINT) AS n_leak_spans,
         |  CAST(count(DISTINCT lk.eval_doc) AS BIGINT) AS n_eval_docs_hit,
         |  CAST(count(DISTINCT lk.train_doc) AS BIGINT) AS n_train_docs_hit,
         |  CAST(sum(lk.span_len) AS BIGINT) AS n_leaked_tokens
         |FROM lk JOIN documents d ON d.doc_id = lk.train_doc
         |GROUP BY d.source
         |ORDER BY d.source""".stripMargin,
    "dedup_cross_source" ->
      """WITH hs AS (
        |  SELECT DISTINCT
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
        |        ' ')) AS h,
        |    source
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "span_excision" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, source, CAST(i.i AS BIGINT) AS pos,
        |    md5(w[CAST(i.i + 1 AS INTEGER)] || ' ' ||
        |        w[CAST(i.i + 2 AS INTEGER)] || ' ' ||
        |        w[CAST(i.i + 3 AS INTEGER)]) AS h
        |  FROM t, unnest(range(0, len(w) - 2)) AS i(i)),
        |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.pos AS ia, b.pos AS ib
        |  FROM sh a JOIN sh b
        |    ON a.h = b.h AND a.source = b.source AND a.doc_id < b.doc_id),
        |isl AS (SELECT doc_a, doc_b, ia - ib AS diag, ia,
        |    ia - row_number() OVER (
        |      PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia) AS isl
        |  FROM m),
        |sp AS (SELECT doc_a, doc_b, diag,
        |    min(ia) AS start_a, max(ia) - min(ia) + 3 AS span_len
        |  FROM isl GROUP BY doc_a, doc_b, diag, isl),
        |spans AS (SELECT doc_b AS doc_id, start_a - diag AS s,
        |    start_a - diag + span_len AS e
        |  FROM sp WHERE span_len >= 4),
        |ord AS (SELECT doc_id, s, e,
        |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM spans),
        |grp AS (SELECT doc_id, s, e,
        |    sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        |  FROM ord),
        |uni AS (SELECT doc_id, min(s) AS s, max(e) AS e
        |  FROM grp GROUP BY doc_id, g),
        |tok AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents)
        |SELECT u.doc_id, count(*) AS n_excised_ranges,
        |  CAST(sum(e - s) AS BIGINT) AS n_tokens_removed,
        |  CAST(any_value(n) - sum(e - s) AS BIGINT) AS n_tokens_kept
        |FROM uni u JOIN tok USING (doc_id)
        |GROUP BY u.doc_id ORDER BY u.doc_id""".stripMargin,
    "dedup_substring_spans" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, source, CAST(i.i AS BIGINT) AS pos,
        |    md5(w[CAST(i.i + 1 AS INTEGER)] || ' ' ||
        |        w[CAST(i.i + 2 AS INTEGER)] || ' ' ||
        |        w[CAST(i.i + 3 AS INTEGER)]) AS h
        |  FROM t, unnest(range(0, len(w) - 2)) AS i(i)),
        |m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.pos AS ia, b.pos AS ib
        |  FROM sh a JOIN sh b
        |    ON a.h = b.h AND a.source = b.source AND a.doc_id < b.doc_id),
        |isl AS (SELECT doc_a, doc_b, ia - ib AS diag, ia,
        |    ia - row_number() OVER (
        |      PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia) AS isl
        |  FROM m),
        |sp AS (SELECT doc_a, doc_b, diag,
        |    min(ia) AS start_a, max(ia) - min(ia) + 3 AS span_len
        |  FROM isl GROUP BY doc_a, doc_b, diag, isl)
        |SELECT doc_a, doc_b, start_a, start_a - diag AS start_b, span_len
        |FROM sp WHERE span_len >= 4
        |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    "dedup_incremental" ->
      """WITH d AS (SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
        |    ' ')) AS content_hash FROM documents),
        |c AS (SELECT max(doc_id) // 2 AS cut FROM d),
        |snap AS (SELECT DISTINCT content_hash FROM d, c WHERE doc_id <= cut),
        |batch AS (SELECT d.doc_id, d.content_hash FROM d, c WHERE doc_id > cut),
        |fb AS (SELECT content_hash, min(doc_id) AS first_in_batch
        |  FROM batch GROUP BY 1)
        |SELECT b.doc_id, b.content_hash,
        |  CASE WHEN s.content_hash IS NOT NULL THEN 'dup_of_snapshot'
        |       WHEN b.doc_id > fb.first_in_batch THEN 'dup_in_batch'
        |       ELSE 'new' END AS decision
        |FROM batch b
        |LEFT JOIN snap s USING (content_hash)
        |JOIN fb USING (content_hash)
        |ORDER BY doc_id""".stripMargin,
    // the bloom is a prefilter, never a semantics change — the oracle is
    // the plain exact two-way decision (no in-batch tier here; that is
    // dedup_incremental's job)
    "dedup_bloom_prefilter" ->
      """WITH d AS (SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
        |    ' ')) AS content_hash FROM documents),
        |c AS (SELECT max(doc_id) // 2 AS cut FROM d),
        |snap AS (SELECT DISTINCT content_hash FROM d, c WHERE doc_id <= cut),
        |batch AS (SELECT d.doc_id, d.content_hash FROM d, c WHERE doc_id > cut)
        |SELECT b.doc_id, b.content_hash,
        |  CASE WHEN s.content_hash IS NOT NULL THEN 'dup_of_snapshot'
        |       ELSE 'new' END AS decision
        |FROM batch b
        |LEFT JOIN snap s USING (content_hash)
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact_stats" ->
      """WITH g AS (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY 1)
        |SELECT count(*) AS n_unique_texts,
        |  CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(sum(c - 1) AS BIGINT) AS n_dup_docs
        |FROM g""".stripMargin,
    "dedup_keep_first" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin,
    "dup_ngram_spans" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |      i -> md5(string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]))) AS shingle_hash
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3)
        |SELECT shingle_hash, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_occ
        |FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY shingle_hash""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $sqlNgramPairCtes
         |SELECT doc_a, doc_b,
         |  round(c * 1.0 / (na + nb - c), 6) AS jaccard
         |FROM shared
         |WHERE c * 1.0 / (na + nb - c) >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_yield_curve" ->
      """WITH ydt AS (
        |  SELECT DISTINCT doc_id, source, tok FROM (
        |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) t),
        |ysizes AS (SELECT doc_id, count(*) AS n FROM ydt GROUP BY 1),
        |ydtn AS (SELECT ydt.doc_id, ydt.source, ydt.tok, ysizes.n
        |         FROM ydt JOIN ysizes USING (doc_id)),
        |yshared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c,
        |    max(a.n) AS na, max(b.n) AS nb
        |  FROM ydtn a JOIN ydtn b
        |    ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        |   AND a.n * 5 >= b.n * 4 AND b.n * 5 >= a.n * 4
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_b, c * 1.0 / (na + nb - c) AS jaccard
        |          FROM yshared WHERE c * 1.0 / (na + nb - c) >= 0.8),
        |taus AS (SELECT CAST(unnest([0.80, 0.85, 0.90, 0.95, 1.0]) AS DOUBLE) AS tau),
        |drops AS (SELECT t.tau, count(DISTINCT p.doc_b) AS n_dropped
        |          FROM taus t JOIN pairs p ON p.jaccard >= t.tau GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT t.tau, CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
        |  CAST(tot.n_docs - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept
        |FROM taus t LEFT JOIN drops d ON d.tau = t.tau CROSS JOIN tot
        |ORDER BY t.tau""".stripMargin,
    // truth/lsh are MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and the stats row references each chain twice — without
    // materialization the whole minhash chain re-evaluates per scalar
    // subquery (observed >79 GB of temp spill at sf0.1; materialized it
    // runs each chain once, like the Spark side's shared plan)
    "dedup_recall_eval" ->
      s"""WITH $sqlNgramPairCtes,
         |truth AS MATERIALIZED (SELECT doc_a, doc_b FROM shared
         |          WHERE c * 1.0 / (na + nb - c) >= 0.9),
         |mdt AS (SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents) t),
         |mhv AS (SELECT doc_id,
         |    (('0x' || substr(md5(tok), 1, 15))::BIGINT) % $sqlP AS hm FROM mdt),
         |mparams(i, a, b) AS (VALUES $sqlMinhashParams),
         |msig AS (SELECT doc_id, i, min((hm * a + b) % $sqlP) AS s
         |        FROM mhv CROSS JOIN mparams GROUP BY 1, 2),
         |mbands AS (SELECT doc_id, i // 4 AS band_idx,
         |    (CAST(sum((s * (CASE i % 4 WHEN 0 THEN ${BC(0)} WHEN 1 THEN ${BC(1)}
         |                    WHEN 2 THEN ${BC(2)} ELSE ${BC(3)} END)) % $sqlP) AS BIGINT)
         |     + ((i // 4) * ${BC(4)}) % $sqlP) % $sqlP AS band_val
         |  FROM msig GROUP BY 1, 2),
         |mcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM mbands a JOIN mbands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id),
         |magree AS (SELECT mc.doc_a, mc.doc_b,
         |    count(*) FILTER (WHERE sa.s = sb.s) AS cnt
         |  FROM mcand mc
         |    JOIN msig sa ON sa.doc_id = mc.doc_a
         |    JOIN msig sb ON sb.doc_id = mc.doc_b AND sb.i = sa.i
         |  GROUP BY 1, 2),
         |lsh AS MATERIALIZED (SELECT doc_a, doc_b FROM magree WHERE cnt / 64.0 >= 0.8),
         |stats AS (SELECT
         |  (SELECT count(*) FROM truth) AS n_truth,
         |  (SELECT count(*) FROM truth t WHERE EXISTS (
         |     SELECT 1 FROM lsh l
         |     WHERE l.doc_a = t.doc_a AND l.doc_b = t.doc_b)) AS n_found,
         |  (SELECT count(*) FROM lsh) AS n_lsh)
         |SELECT CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_found AS BIGINT) AS n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall,
         |  CAST(n_lsh AS BIGINT) AS n_lsh
         |FROM stats""".stripMargin,
    "dedup_containment" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, source, tok FROM (
        |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY 1),
        |dtn AS (SELECT dt.doc_id, dt.source, dt.tok, sizes.n
        |        FROM dt JOIN sizes USING (doc_id)),
        |shared AS (
        |  SELECT a.doc_id AS doc_small, b.doc_id AS doc_big, count(*) AS c,
        |    max(a.n) AS ns
        |  FROM dtn a JOIN dtn b
        |    ON a.tok = b.tok AND a.source = b.source
        |   AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
        |  GROUP BY 1, 2)
        |SELECT doc_small, doc_big, round(c * 1.0 / ns, 6) AS containment
        |FROM shared WHERE c * 1.0 / ns >= 0.9
        |ORDER BY doc_small, doc_big""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $sqlNgramPairCtes,
         |np AS (SELECT doc_a, doc_b FROM shared
         |       WHERE c * 1.0 / (na + nb - c) >= 0.9),
         |e(src, dst) AS (SELECT doc_a, doc_b FROM np
         |                UNION ALL SELECT doc_b, doc_a FROM np),
         |reach(n, m) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.m FROM reach JOIN e ON e.src = reach.n),
         |lab AS (SELECT n AS doc_id, min(m) AS cluster_id FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY 1)
         |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size,
         |  lab.doc_id = lab.cluster_id AS is_keeper
         |FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |    FROM documents) t),
         |hv AS (SELECT doc_id,
         |    (('0x' || substr(md5(tok), 1, 15))::BIGINT) % $sqlP AS hm FROM dt),
         |params(i, a, b) AS (VALUES $sqlMinhashParams),
         |sig AS (SELECT doc_id, i, min((hm * a + b) % $sqlP) AS s
         |        FROM hv CROSS JOIN params GROUP BY 1, 2),
         |bands AS (SELECT doc_id, i // 4 AS band_idx,
         |    (CAST(sum((s * (CASE i % 4 WHEN 0 THEN ${BC(0)} WHEN 1 THEN ${BC(1)}
         |                    WHEN 2 THEN ${BC(2)} ELSE ${BC(3)} END)) % $sqlP) AS BIGINT)
         |     + ((i // 4) * ${BC(4)}) % $sqlP) % $sqlP AS band_val
         |  FROM sig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id),
         |agree AS (SELECT c.doc_a, c.doc_b,
         |    count(*) FILTER (WHERE sa.s = sb.s) AS cnt
         |  FROM cand c
         |    JOIN sig sa ON sa.doc_id = c.doc_a
         |    JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, cnt / 64.0 AS est_jaccard FROM agree
         |WHERE cnt / 64.0 >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $sqlSimhashVotes
         |SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN
         |    (CASE WHEN b = 63 THEN -9223372036854775808 ELSE (1::BIGINT << b) END)
         |  ELSE 0 END) AS BIGINT) AS simhash64
         |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $sqlSimhashVotes,
         |bands AS (SELECT doc_id, b // 16 AS band_idx,
         |    CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << (b % 16)) ELSE 0 END)
         |      AS BIGINT) AS band_val
         |  FROM votes GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id),
         |ham AS (SELECT c.doc_a, c.doc_b,
         |    CAST(sum(bit_count(xor(ba.band_val, bb2.band_val))) AS BIGINT) AS hamming
         |  FROM cand c
         |    JOIN bands ba ON ba.doc_id = c.doc_a
         |    JOIN bands bb2 ON bb2.doc_id = c.doc_b AND bb2.band_idx = ba.band_idx
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, hamming FROM ham
         |WHERE hamming <= 8 ORDER BY doc_a, doc_b""".stripMargin)
}
