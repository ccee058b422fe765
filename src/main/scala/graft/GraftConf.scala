package graft

import org.apache.spark.sql.SparkSession

/** Tunable engine constants, read from `spark.graft.*` session conf with
  * the values the oracles assume as defaults. A deployment retunes these
  * per cluster (`--conf spark.graft.compact.targetBytes=134217728` for a
  * 128 MiB shard target on a real object store) without touching code;
  * the registry oracles are written against the defaults, so the
  * correctness gate always runs the default geometry while specs prove
  * the conf actually steers the operators (`ConfParamSpec`).
  */
object GraftConf {
  /** Build-round provenance stamp for regenerated artifacts
    * (APPROX_BOUNDS.json); bumped in the same commit that regenerates. */
  val round: String = "r17"

  /** `SPARK_GRAFT_CPUS` normalization, shared by EVERY main that builds a
    * local session (one parser — round-10 review finding: one main alone
    * accepted `local[8]` while the others interpolated it into
    * `local[local[8]]`). Accepts a thread count
    * ("8"), a bare "*" (all cores), or Spark's full "local[8]"/"local[*]"
    * spelling; rejects anything else at startup. Returns the core spec
    * for the `local[...]` master URL and the numeric count (used to size
    * shuffle partitions; `*` resolves to the box's processors). */
  def cpuSpec(default: Int): (String, Int) = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)
    val spec = raw.trim match {
      case s if s.matches("""local\[(\d+|\*)\]""") =>
        s.stripPrefix("local[").stripSuffix("]")
      case s if s == "*" || s.matches("""\d+""") => s
      case s => throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a count, '*', or 'local[N]'; got '$s'")
    }
    val n =
      if (spec == "*") Runtime.getRuntime.availableProcessors else spec.toInt
    (spec, n)
  }

  /** Chunker window: tokens per chunk (`chunk_documents`, `pack_sequences`). */
  def chunkTokens(spark: SparkSession): Long =
    spark.conf.get("spark.graft.chunk.tokens", "64").toLong
  /** Chunker stride: tokens advanced per chunk (overlap = tokens − stride). */
  def chunkStride(spark: SparkSession): Long =
    spark.conf.get("spark.graft.chunk.stride", "48").toLong
  /** Packed training-sequence length in tokens (`pack_sequences`). */
  def packSeqTokens(spark: SparkSession): Long =
    spark.conf.get("spark.graft.pack.seqTokens", "256").toLong
  /** Docs per independent packing group — the partitioned-window key that
    * keeps the running sum distributed (`pack_sequences`). */
  def packGroupDocs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.pack.groupDocs", "256").toLong
  /** Compaction shard byte target (`compact_files`). */
  def compactTargetBytes(spark: SparkSession): Long =
    spark.conf.get("spark.graft.compact.targetBytes", "16384").toLong
  /** Docs per independent compaction group (`compact_files`). */
  def compactGroupDocs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.compact.groupDocs", "1024").toLong
  /** Hyperplane count for the LSH-bucketed embedding ops (2^planes
    * buckets). The bucket space is FIXED geometry: occupancy — and with
    * it the in-bucket pair matrix — grows linearly with the corpus, so a
    * deployment raises this ~log2(n) to hold occupancy constant (each
    * extra plane costs one more dot product per vector and halves
    * expected bucket size). */
  def annPlanes(spark: SparkSession): Int =
    spark.conf.get("spark.graft.ann.planes", "8").toInt
  /** Centroid sampling modulus for the IVF quantizers: every Nth vector
    * seeds a centroid, so at fixed N the centroid count — and the n×k
    * assign cost — grows with the corpus. A deployment raises N
    * proportionally with corpus size to hold k (and the broadcast set)
    * constant. */
  def annCentroidMod(spark: SparkSession): Long =
    spark.conf.get("spark.graft.ann.centroidMod", "32").toLong
  /** Cells each QUERY probes in the multi-cell IVF probe
    * (`ann_ivf_nprobe`) — the production recall/latency knob of an IVF
    * index: recall rises monotonically in nprobe (candidate supersets),
    * probe cost grows linearly (nprobe partition-pruned cell scans).
    * The corpus-side index is unchanged at any value. */
  def annNprobe(spark: SparkSession): Int = {
    val n = spark.conf.get("spark.graft.ann.nprobe", "2").toInt
    // same loud-failure guard as [[semNprobe]]: nprobe < 1 silently
    // empties every probe instead of failing fast
    require(n >= 1, s"spark.graft.ann.nprobe must be >= 1, got $n")
    n
  }
  /** Merge steps learned by `bpe_train` (default = the committed fixture
    * vocabulary's length, so the correctness gate retrains exactly it). */
  def bpeTrainMerges(spark: SparkSession): Int =
    spark.conf.get("spark.graft.bpe.trainMerges",
      graft.functions.BpeVocab.merges.length.toString).toInt
  /** Merge steps learned by `bpe_train_rich` — the production-merge-count
    * exercise of the incremental trainer (round-10 verdict #1). */
  def bpeRichMerges(spark: SparkSession): Int =
    spark.conf.get("spark.graft.bpe.richMerges", "256").toInt
  /** Driver-side vocabulary bound for BPE training: the aggregated
    * (word, freq) table must fit the driver by design (it is vocabulary-
    * sized, not corpus-sized); this cap turns a pathological open
    * vocabulary into a loud error instead of a driver OOM. 4M words ≈
    * low hundreds of MB with per-word trainer state. */
  def bpeMaxVocab(spark: SparkSession): Int =
    spark.conf.get("spark.graft.bpe.maxVocab", "4000000").toInt

  /** Generation-subdir count above which a post-run band-store
    * compaction fires automatically (`StreamOps.maybeCompactBandStore`).
    * Each incremental-dedup micro-batch appends one generation; the
    * threshold bounds per-batch listing/open-file cost at O(maxGen). */
  def bandstoreMaxGenerations(spark: SparkSession): Int =
    spark.conf.get("spark.graft.bandstore.maxGenerations", "64").toInt
  /** Shard count a band-store compaction rewrites to. */
  def bandstoreCompactTargetFiles(spark: SparkSession): Int =
    spark.conf.get("spark.graft.bandstore.compactTargetFiles", "4").toInt

  /** Absolute document-frequency ceiling for similarity CANDIDATE
    * generation (`tfidf_doc_sim`). The relative `df ≤ n/5` rarity gate
    * alone is not scale-safe: a single term sitting at the gate
    * contributes (n/5)² candidate pairs — quadratic in the corpus — so
    * candidate postings must also be absolutely bounded (the standard IR
    * high-df prune). The default is transparent at every driver scale
    * factor (the relative gate is tighter there); the ×10 ScaleStress
    * corpus is where it starts carrying the load. */
  def irSimMaxDf(spark: SparkSession): Long =
    spark.conf.get("spark.graft.ir.simMaxDf", "256").toLong

  /** Document-frequency ceiling for the exact-substring SPAN family's
    * shingle postings (`dedup_substring_spans` and composed consumers).
    * A boilerplate shingle with within-source document frequency d emits
    * d² match points in the postings self-join — the family's known
    * quadratic tail. With the cap set (> 0), postings of shingles whose
    * df exceeds it are dropped BEFORE the join, loudly (the no-silent-
    * caps rule: the operator logs how many shingle keys were capped).
    * Semantics under the cap: a maximal span that crosses a capped
    * shingle splits at that shingle (its match points are gone), so
    * capped output is a refinement of the uncapped spans over the
    * surviving shingles — the standard suffix-array-family df-prune
    * tradeoff, acceptable exactly because df ≫ cap shingles are
    * boilerplate. Default 0 = off: the fixture corpus has no hot tail,
    * and the correctness gate runs uncapped. */
  def spansMaxDf(spark: SparkSession): Long =
    spark.conf.get("spark.graft.spans.maxDf", "0").toLong

  /** Route `dedup_semantic`'s centroid assign through the TWO-LEVEL
    * (indexed) argmin instead of the flat scan over all k centroids.
    * The flat assign is n·k = n²/mod dots — the one measured
    * super-linear term on the r14 board (SCALE_r14_sem_x100); the
    * indexed form first picks the nearest of ~√k super-centroids, then
    * scans only that super-cell's ~√k centroids: n·O(√k) total, the
    * remedy the operator's scaladoc names. Default ON — the registry
    * oracle mirrors the two-level procedure exactly. OFF exists for
    * A/B audits (the recall harness compares both candidate sets). */
  def semIndexedAssign(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.sem.indexedAssign", "true").toBoolean

  /** Cosine threshold for the SemDeDup pair graph (`dedup_semantic` and
    * its streaming twin). Default = the fixture-wide cluster threshold
    * the registry oracle pins; overriding it measures blocking recall in
    * the tight-τ production regime (Abbas et al. operate at ≈0.9+)
    * without forking the operator (SEMDEDUP_RECALL.json). */
  def semCosThreshold(spark: SparkSession): Double =
    spark.conf.get("spark.graft.sem.cosThreshold",
      graft.ops.SimOps.ClusterCosThreshold.toString).toDouble

  /** Cosine threshold for SEMANTIC decontamination
    * (`decontaminate_semantic`): a corpus vector whose max cosine against
    * any eval-set vector reaches the threshold is flagged contaminated.
    * The default is interpolated into the registry oracle, so overriding
    * it is for ad-hoc runs, not the gate. */
  val DeconSemTauDefault = "0.30"
  def deconSemTau(spark: SparkSession): Double =
    spark.conf.get("spark.graft.decon.semTau", DeconSemTauDefault).toDouble

  /** Eval-set selection modulus for `decontaminate_semantic` (every
    * mod-th vector is eval). In production the eval set is an external
    * benchmark table of FIXED size however large the corpus grows; the
    * fixture derives it from the corpus, so the scale audit multiplies
    * this modulus by the synthesis factor to hold the eval size constant
    * — the measurement of the operator as deployed (the
    * `ann.centroidMod` doctrine). The registry oracle pins the default. */
  def deconSemEvalMod(spark: SparkSession): Long =
    spark.conf.get("spark.graft.decon.semEvalMod", "97").toLong

  /** Input vectors for `pq_train`'s subspace-Lloyd fit: `raw` (the
    * registry default the oracle pins) or `residual` — fit on the IVF
    * residuals `embedding − cell centroid`, the input the
    * fitted-residual serving tier (`ann_ivfpq_fitted`) encodes. The
    * FAISS `by_residual=true` default trains exactly so (JDS 2011
    * §V.A); the raw mode remains for the standalone (non-IVF) ADC
    * tier's book. */
  def pqFitInput(spark: SparkSession): String =
    spark.conf.get("spark.graft.pq.fitInput", "raw")

  /** Per-bucket occupancy cap for the 64-bit perceptual-hash banded
    * join (`mm_image_neardup`): band buckets holding more than this
    * many images have their postings dropped (loudly) before the
    * candidate join — the `spans.maxDf` doctrine applied to the tier
    * whose 2⁸-value band space saturates on dense corpora (candidate
    * exponent 2.00 measured in SCALE_r15_phash_density). A saturated
    * bucket is the band-space analogue of a boilerplate shingle: its
    * candidates are overwhelmingly false (space-exhaustion collisions),
    * and pairs colliding ONLY there are lost — the cap's stated
    * assumption. Default 0 = off (the registry/oracle path: the banded
    * join stays provably lossless at hamming ≤ 7). The scale-safe
    * default for dense corpora remains `mm_image_neardup_mi`. */
  def phashMaxBucket(spark: SparkSession): Long =
    spark.conf.get("spark.graft.phash.maxBucket", "0").toLong

  /** Per-bucket occupancy cap for the MULTI-INDEX (256-bit, 16×16-bit
    * bands) perceptual-hash tier (`mm_image_neardup_mi`) — the
    * `phash.maxBucket` twin for the tier whose own candidate exponent
    * measured 1.995 at planted density (SCALE_r16_phash_density): the
    * 2¹⁶-value band space buys 256× headroom over the 64-bit tier, but
    * a corpus dense enough still saturates it, and the remedy is the
    * same occupancy cap. Default 0 = off (the registry/oracle path:
    * the banded join stays provably lossless at hamming ≤ 15). */
  def phashMiMaxBucket(spark: SparkSession): Long =
    spark.conf.get("spark.graft.phash.mi.maxBucket", "0").toLong

  /** Super-cells each VECTOR probes in the two-level semantic assign
    * (`dedup_semantic`'s indexed argmin) — the `ann.nprobe` knob applied
    * at the quantizer level: the tight-τ pair recall the nprobe=1 cut
    * gives up across a decade (0.830 → 0.703, SEMDEDUP_RECALL r15) is
    * bought back by probing more super-cells at n·nprobe·O(√k) assign
    * cost. Default 1 = the registry/oracle procedure; SEMDEDUP_RECALL.json
    * records the nprobe=2 operating point. */
  def semNprobe(spark: SparkSession): Int = {
    val n = spark.conf.get("spark.graft.sem.nprobe", "1").toInt
    // loud-failure doctrine: nprobe < 1 would make the probe filter drop
    // every row and the semantic assign silently return empty (r16 advice)
    require(n >= 1, s"spark.graft.sem.nprobe must be >= 1, got $n")
    n
  }

  /** The LR family's ONE step constant (r16 advice): the fixed
    * trainer's unroll depth (`embed_lr_probe`), the converged trainer's
    * default budget (`lr.maxSteps`) and both SQL oracles' replay depth
    * all derive from this value, so changing it moves engine, conf
    * default and oracle together instead of silently diverging. The
    * remaining fixture assumption — the step-S improvement stays above
    * `lr.tol`, so the bound BINDS and the bounded form IS the S-step
    * replay — is spec-asserted (EmbedAnnSpec's loose-tol test). */
  val LrStepsDefault: Int = 3

  /** Step budget for `embed_lr_converged` — the loud upper bound of the
    * convergence-gated trainer. Default = the fixed trainer's
    * [[LrStepsDefault]] steps, which BINDS on the fixture (the oracle
    * pins the bounded form). */
  def lrMaxSteps(spark: SparkSession): Int =
    spark.conf.get("spark.graft.lr.maxSteps", LrStepsDefault.toString).toInt

  /** Mean-|error| improvement below which `embed_lr_converged` stops.
    * The loss is grid-exact (2⁻²⁰ longs), so the stop decision is
    * deterministic at any parallelism. The default is far below the
    * fixture's step-3 improvement (spec-asserted), so the registry runs
    * the full budget. */
  def lrTol(spark: SparkSession): Double =
    spark.conf.get("spark.graft.lr.tol", "1e-6").toDouble
}
