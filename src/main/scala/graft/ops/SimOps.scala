package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Similarity search over `embeddings` (north-star; SURVEY.md §2b Q26):
  * brute-force cosine as the exact baseline, random-hyperplane LSH as the
  * 100 TB scale path.
  *
  * Numeric determinism: every dot product is a left-to-right fold in
  * DOUBLE over the float elements — `aggregate(zip_with(...))` on the
  * Spark side, `list_sum(list_transform(list_zip(...)))` on the DuckDB
  * side — verified byte-identical, so even the ANN queries are fully
  * oracle-checked. Norms are computed once per vector (O(n)) and joined,
  * never recomputed per pair.
  *
  * Scale design: brute force is O(n·q) with q small (it's the rerank
  * primitive, not the index); the LSH variant buckets by signature so the
  * pair space is per-bucket. At 1000 executors both are plain equi-join +
  * window plans: no driver-side collect anywhere.
  */
object SimOps {
  type Q = (SparkSession, String) => DataFrame

  /** Sequential-fold dot product in DOUBLE — the native codegen
    * [[graft.functions.DotProduct]] expression (identical fold semantics
    * to `aggregate(zip_with(...))`, ~an order of magnitude faster on the
    * pair-rerank path because it stays inside whole-stage codegen). */
  private[ops] def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  private[graft] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", dot(col("embedding"), col("embedding")))

  /** DuckDB spelling of the same fold. */
  private[ops] def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), s -> s[1] * s[2]))"
  private[ops] val sqlVec =
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d FROM embeddings"
  /** [[sqlVec]] carrying the label column (semantic-decontamination oracle). */
  private[ops] val sqlVecLabeled =
    "SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d FROM embeddings"

  /** Brute-force top-20 most-similar pairs (exact near-dup baseline).
    * The blocked/LSH variants replace this at scale; it stays as the
    * ground-truth oracle for them.
    *
    * The all-pairs space is enumerated through
    * [[PairEnum.blockedAllPairs]]: the O(n²) pair matrix decomposes into
    * ⌈n/B⌉·(⌈n/B⌉+1)/2 independent B×B join cells spread by a shuffle —
    * per-task work is bounded by B² and nothing is broadcast (the
    * previous formulation was a BroadcastNestedLoopJoin that shipped the
    * whole table to every task), and the dense block index is assigned
    * two-phase so no stage funnels the table through one task. The
    * top-20 is a TakeOrdered over the cell outputs, never a global
    * sort. */
  def embedTopPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
      .select("vec_id", "embedding", "nrm")
    PairEnum.blockedAllPairs(v, "vec_id", Seq("embedding", "nrm"))
      .select(col("a_vec_id").as("vec_a"), col("b_vec_id").as("vec_b"),
        (dot(col("a_embedding"), col("b_embedding")) /
          sqrt(col("a_nrm") * col("b_nrm"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(20)
  }

  /** Brute-force cosine top-k: for each query vector (vec_id < 10), the 5
    * nearest neighbors — rank via per-query window, which Spark executes
    * as one partial top-k per partition (TakeOrdered inside the window
    * group), no global sort. */
  def annTopkBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir)).select("vec_id", "embedding", "nrm")
    annProbe(v.filter(col("vec_id") < 10), v, Nil, depth = 5)
  }

  /** One candidate cut of an ANN probe: rank each query's candidates by
    * the `score` expression, named `name` (ascending for distances,
    * descending for similarities; ties to the smaller neighbor id), and
    * keep the best `keep`. */
  private case class Cut(name: String, score: Column, ascending: Boolean, keep: Int)

  /** The serving tail every ANN probe tier shares — scatter, score, cut,
    * gather. The query rows (`vec_id`/`embedding`/`nrm`, plus whatever
    * query-side columns the cut scores read) are renamed
    * `query_id`/`qe`/`qn` and broadcast against `corpus`: on `cell`
    * when the query side carries one — `cell` then rides into the
    * output — and otherwise against every other vector. Each of `cuts`
    * in turn keeps its best candidates per query; the survivors rerank
    * by exact cosine to the top `depth`, ranked as a long `rnk`.
    *
    * Scale shape: the query side is ≤ |queries|·nprobe rows at any
    * corpus size, so the broadcast keeps the probe a broadcast join over
    * the corpus scan even with AQE out of the loop; every cut is a
    * per-query window top-k (a bounded heap under the extensions, never
    * a global sort), and full-precision floats are only dotted for the
    * last cut's survivors. */
  private def annProbe(queries: DataFrame, corpus: DataFrame,
      cuts: Seq[Cut], depth: Int): DataFrame = {
    val q = queries.withColumnsRenamed(
      Map("vec_id" -> "query_id", "embedding" -> "qe", "nrm" -> "qn"))
    val cell = if (q.columns.contains("cell")) Seq(col("cell")) else Nil
    val pairs =
      if (cell.nonEmpty) broadcast(q).join(corpus, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
      else broadcast(q).join(corpus, col("vec_id") =!= col("query_id"))
    val scored = pairs.select(
      Seq(col("query_id"), col("vec_id").as("neighbor_id")) ++ cell ++
        Seq(col("qe"), col("qn"), col("embedding"), col("nrm")) ++
        cuts.map(c => c.score.as(c.name)): _*)
    val survivors = cuts.zipWithIndex.foldLeft(scored) { case (df, (c, i)) =>
      val w = Window.partitionBy("query_id").orderBy(
        if (c.ascending) col(c.name).asc else col(c.name).desc, col("neighbor_id").asc)
      // the uncast rank under `<=` is the shape TopKRewriteRule turns
      // into a per-query heap
      df.withColumn(s"crnk$i", row_number().over(w)).filter(col(s"crnk$i") <= c.keep)
    }
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    survivors
      .select(Seq(col("query_id"), col("neighbor_id")) ++ cell :+
        (dot(col("qe"), col("embedding")) / sqrt(col("qn") * col("nrm"))).as("cos"): _*)
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= depth)
      .select(Seq(col("query_id"), col("rnk"), col("neighbor_id")) ++ cell :+ col("cos"): _*)
      .orderBy("query_id", "rnk")
  }

  /** kNN-DISTANCE outlier scoring over the embedding corpus — the
    * "isolated points" report of an embedding-space cleaning pass
    * (mislabeled/garbage vectors sit far from their 5th neighbor; dense
    * duplicates sit at distance ~0): for every vector, the cosine
    * distance to its 5th nearest neighbor, reported for the 20 most
    * isolated vectors. This is the exact brute-force baseline tier (the
    * [[annTopkBrute]] convention); the scale path swaps LSH/IVF bucket
    * candidates in front of the SAME per-key top-k — the bucketed
    * variants' recall/cost tradeoff is already quantified in
    * ANN_TRADEOFF.json.
    *
    * Scale shape: the unordered pair space is enumerated ONCE through
    * [[PairEnum.blockedAllPairs]] (bounded B×B cells, no
    * BroadcastNestedLoopJoin), both orientations are emitted ARRAY-SIDE
    * from each unordered pair (a 2-element explode — no second
    * enumeration pass, no self-union recompute), the per-vector top-5
    * runs as the TopKPerKey bounded heap (no per-key sort), and the
    * 5th-NN value is `min` over the kept 5. Final 20-row cut is
    * TakeOrdered. */
  def embedOutlierKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
      .select("vec_id", "embedding", "nrm")
    val pairs = PairEnum.blockedAllPairs(v, "vec_id", Seq("embedding", "nrm"))
      .select(col("a_vec_id"), col("b_vec_id"),
        (dot(col("a_embedding"), col("b_embedding")) /
          sqrt(col("a_nrm") * col("b_nrm"))).as("cos"))
    val directed = pairs.select(explode(array(
        struct(col("a_vec_id").as("vec_id"), col("cos")),
        struct(col("b_vec_id").as("vec_id"), col("cos")))).as("e"))
      .select(col("e.vec_id"), col("e.cos"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc)
    directed.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .groupBy("vec_id")
      .agg(min(col("cos")).as("kth_cos"))
      .select(col("vec_id"), col("kth_cos"),
        (lit(1.0) - col("kth_cos")).as("knn_dist"))
      .orderBy(col("knn_dist").desc, col("vec_id").asc)
      .limit(20)
  }

  // --- LSH-bucketed ANN ----------------------------------------------------

  /** Deterministic pseudo-random hyperplanes: nplanes × DIM values in
    * [-1, 1) with denominator 1024, so their decimal literals round-trip
    * exactly into the SQL oracle.
    *
    * Geometry is parameterized: 2^nplanes buckets, so expected occupancy
    * is n/2^nplanes — at larger corpora raise `spark.graft.ann.planes`
    * (the signature is one more dot product per plane, the SQL mirror is
    * generated from the same constants). The oracle query pins the
    * default geometry; ScaleStress times the ×10 corpus at the
    * scale-path geometry to prove the knob restores linear cost. */
  val DefaultPlanes = 8
  private val DIM = 64
  private def planeVal(j: Int, d: Int): Double =
    (((1103515245L * (j * DIM + d) + 12345L) % 2048L + 2048L) % 2048L - 1024L) / 1024.0
  private def planes(nplanes: Int): Seq[Seq[Double]] =
    (0 until nplanes).map(j => (0 until DIM).map(d => planeVal(j, d)))

  /** Random-hyperplane LSH bucketing + in-bucket exact rerank: signature
    * bit j = sign(v · plane_j); vectors sharing all `nplanes` bits land in
    * one of ≤2^nplanes buckets; nearest neighbor is reranked by exact
    * cosine within the bucket. This is the ANN shape that scales: the
    * bucket id is a shuffle key, not a driver structure, and the in-bucket
    * pair matrix is enumerated through [[PairEnum.blockedSelfJoinPairs]],
    * so even a pathological hot bucket (all vectors on one side of every
    * plane) costs at most blockSize² per task instead of serializing one
    * executor. Each unordered pair is scored once and mirrored into both
    * directions for the per-vector argmax.
    *
    * Fully oracle-checked: the planes are literal constants interpolated
    * into the DuckDB SQL, so both engines compute identical signatures. */
  def annLshBucket(spark: SparkSession, sfDir: String): DataFrame =
    annLshBucketG(spark, sfDir, graft.GraftConf.annPlanes(spark))

  /** Vectors + their `nplanes`-bit hyperplane signature bucket — the
    * shared head of every LSH-routed operator below. */
  private def bucketVecs(spark: SparkSession, sfDir: String, nplanes: Int): DataFrame = {
    val ps = planes(nplanes)
    withNorm(Tables.embeddings(spark, sfDir)).withColumn("bucket",
      (0 until nplanes).map { j =>
        val plane = array(ps(j).map(lit): _*)
        when(dot(col("embedding"), plane) > 0, lit(1L << j)).otherwise(0L)
      }.reduce(_ + _))
  }

  def annLshBucketG(spark: SparkSession, sfDir: String, nplanes: Int): DataFrame = {
    val bucketed = bucketVecs(spark, sfDir, nplanes)
    val und = PairEnum
      .blockedSelfJoinPairs(bucketed, Seq("bucket"), "vec_id", Seq("embedding", "nrm"))
      .withColumn("cos",
        dot(col("a_embedding"), col("b_embedding")) / sqrt(col("a_nrm") * col("b_nrm")))
    lshNearest(bucketed, und
      .select(col("a_vec_id").as("vec_id"), col("b_vec_id").as("neighbor_id"), col("cos"))
      .union(und
        .select(col("b_vec_id").as("vec_id"), col("a_vec_id").as("neighbor_id"), col("cos"))))
  }

  /** The LSH tiers' shared tail: each vector's best-cosine candidate in
    * `pairs` (vec_id, neighbor_id, cos; ties to the smaller id), joined
    * back onto every bucketed vector so one without a candidate reports
    * neighbor -1 at cos -2. */
  private def lshNearest(bucketed: DataFrame, pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    val best = pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("neighbor_id"), col("cos"))
    bucketed.select(col("vec_id"), col("bucket").as("b0"))
      .join(best, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("b0").as("bucket"),
        coalesce(col("neighbor_id"), lit(-1L)).as("neighbor_id"),
        coalesce(col("cos"), lit(-2.0)).as("cos"))
      .orderBy("vec_id")
  }

  /** Multiprobe LSH nearest neighbor: each vector probes its OWN bucket
    * plus the `nplanes` Hamming-1 neighbor buckets (one signature bit
    * flipped). Single-probe LSH misses any neighbor that lands a hair on
    * the other side of one hyperplane — the signature-boundary failure
    * mode — and the standard fix at scale is probing adjacent buckets
    * rather than adding tables (recall rises without re-hashing or extra
    * storage; see the multi-probe LSH literature).
    *
    * Dataflow: the probe side explodes to (1 + nplanes) rows per vector
    * (a constant fan-out, narrow), candidates come from a plain equi-join
    * on the probed bucket id — still a shuffle key, never a driver
    * structure — and the per-vector argmax is one window over candidate
    * rows. The candidate multiset is a strict superset of single-probe's,
    * so recall is provably ≥ single-probe recall (asserted against brute
    * force in the spec). Probe buckets of one vector are distinct values,
    * so no pair is scored twice.
    *
    * Fully oracle-checked: neighbor-bucket enumeration is `xor(bucket,
    * 2^j)` over the same literal plane constants in both engines. */
  def annLshMultiprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val nplanes = graft.GraftConf.annPlanes(spark)
    val bucketed = bucketVecs(spark, sfDir, nplanes)
    val probes = bucketed.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(array(col("bucket") +:
        (0 until nplanes).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*))
        .as("pbucket"))
    val cand = bucketed.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("nrm").as("cn"), col("bucket").as("pbucket"))
    lshNearest(bucketed, probes.join(cand,
        Seq("pbucket")).filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"),
        (dot(col("embedding"), col("ce")) / sqrt(col("nrm") * col("cn"))).as("cos")))
  }

  /** Embedding-space dedup DECISIONS — the embedding twin of
    * [[DedupOps.dedupClusters]]: LSH-bucketed candidate pairs at a fixed
    * cosine threshold become edges, connected components label every
    * vector with the smallest reachable vec_id, and the minimum id per
    * cluster is the keeper. This closes the pairs→clusters→keepers
    * composition on the embedding side (the text side has had it since
    * round 2); semantic dedup of a 100 TB corpus is exactly this at
    * larger geometry.
    *
    * Scale: candidate edges come from [[PairEnum.blockedSelfJoinPairs]]
    * over bucket keys (B² bounded work even in a degenerate bucket), the
    * edge list is checkpointed once, and the fixpoint is the same
    * pointer-jumping CC used for text (O(log diameter) rounds).
    *
    * The 0.3 threshold is calibrated to the synthetic fixture (max
    * pairwise cos ≈ 0.5, so 0.3 marks its near-dup tail); production
    * semantic dedup uses the same plan at ~0.9 over real embeddings. */
  val ClusterCosThreshold = 0.3

  def embedDedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val bucketed = bucketVecs(spark, sfDir, graft.GraftConf.annPlanes(spark))
    val pairs = PairEnum.blockedSelfJoinPairs(bucketed, Seq("bucket"), "vec_id",
        Seq("embedding", "nrm"))
      .withColumn("cos",
        dot(col("a_embedding"), col("b_embedding")) / sqrt(col("a_nrm") * col("b_nrm")))
      .filter(col("cos") >= ClusterCosThreshold)
      .select(col("a_vec_id").as("vec_a"), col("b_vec_id").as("vec_b"))
    val nodes = Tables.embeddings(spark, sfDir).select(col("vec_id"))
    DedupOps.connectedComponents(nodes, pairs)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"),
        count(lit(1)).over(Window.partitionBy("label")).as("cluster_size"),
        (col("doc_id") === col("label")).as("is_keeper"))
      .orderBy("vec_id")
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified rerank — the retrieval post-processor that trades raw
    * relevance for novelty: from each query's top-10 relevance pool,
    * greedily select 3 maximizing `λ·rel − (1−λ)·max sim(cand, already
    * selected)` at λ = 0.7 (step 1's diversity term is 0 — the empty-max
    * convention — so it reduces to the relevance argmax). The LLM-data
    * uses are direct: diverse few-shot example selection, dedup-aware
    * retrieval, diversity-preserving corpus sampling.
    *
    * The greedy loop UNROLLS (3 fixed steps), which is what keeps the
    * operator fully hash-oracled: each step is a windowed argmax (ties
    * by id) over deterministic doubles, mirrored CTE-for-CTE in SQL.
    * Scale shape: the only corpus-sized work is the pool cut (broadcast
    * 10-row query set × corpus narrow scan + per-query top-10 window —
    * the [[annTopkBrute]] skeleton); everything after operates on
    * ≤ pool² rows PER QUERY (≤ 90 sims), so the greedy stages are
    * bounded by pool geometry whatever the corpus size. */
  def mmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
      .select("vec_id", "embedding", "nrm")
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val wRel = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("cand_id").asc)
    val pool = broadcast(q).join(v, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        col("embedding"), col("nrm"),
        (dot(col("qe"), col("embedding")) / sqrt(col("qn") * col("nrm"))).as("rel"))
      .withColumn("prnk", row_number().over(wRel))
      .filter(col("prnk") <= 10)
    // everything from here down is bounded by pool geometry (≤ 10·|q|
    // rows, ≤ pool² sims) — broadcast the small sides so the greedy
    // stages plan as broadcast joins, not sort-merges of tiny tables
    val sims = pool.select(col("query_id"), col("cand_id").as("ca"),
        col("embedding").as("ea"), col("nrm").as("na"))
      .join(broadcast(pool.select(col("query_id"), col("cand_id").as("cb"),
        col("embedding").as("eb"), col("nrm").as("nb"))), Seq("query_id"))
      .filter(col("ca") =!= col("cb"))
      .select(col("query_id"), col("ca"), col("cb"),
        (dot(col("ea"), col("eb")) / sqrt(col("na") * col("nb"))).as("sim"))
    val rels = pool.select(col("query_id"), col("cand_id"), col("rel"))
    def pick(df: DataFrame): DataFrame = {
      val wm = Window.partitionBy("query_id")
        .orderBy(col("mmr").desc, col("cand_id").asc)
      df.withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * col("ms"))
        .withColumn("r", row_number().over(wm)).filter(col("r") === 1)
    }
    // sims keyed for lookup against a named selection column
    val sim1 = sims.select(col("query_id"), col("ca").as("p1"),
      col("cb").as("cand_id"), col("sim").as("sim1"))
    val sim2 = sims.select(col("query_id"), col("ca").as("p2"),
      col("cb").as("cand_id"), col("sim").as("sim2"))
    val s1 = pick(rels.withColumn("ms", lit(0.0)))
      .select(col("query_id"), col("cand_id").as("p1"), col("mmr").as("m1"))
    val r2 = rels.join(broadcast(s1.select("query_id", "p1")), Seq("query_id"))
      .filter(col("cand_id") =!= col("p1"))
      .join(broadcast(sim1), Seq("query_id", "p1", "cand_id"))
      .withColumn("ms", col("sim1"))
    val s2 = pick(r2)
      .select(col("query_id"), col("p1"), col("cand_id").as("p2"),
        col("mmr").as("m2"))
    val r3 = rels.join(broadcast(s2.select("query_id", "p1", "p2")), Seq("query_id"))
      .filter(col("cand_id") =!= col("p1") && col("cand_id") =!= col("p2"))
      .join(broadcast(sim1), Seq("query_id", "p1", "cand_id"))
      .join(broadcast(sim2), Seq("query_id", "p2", "cand_id"))
      .withColumn("ms", greatest(col("sim1"), col("sim2")))
    val s3 = pick(r3)
      .select(col("query_id"), col("cand_id").as("p3"), col("mmr").as("m3"))
    s1.select(col("query_id"), lit(1L).as("rnk"),
        col("p1").as("cand_id"), col("m1").as("mmr"))
      .unionAll(s2.select(col("query_id"), lit(2L).as("rnk"),
        col("p2").as("cand_id"), col("m2").as("mmr")))
      .unionAll(s3.select(col("query_id"), lit(3L).as("rnk"),
        col("p3").as("cand_id"), col("m3").as("mmr")))
      .orderBy("query_id", "rnk")
  }

  // --- IVF-style ANN -------------------------------------------------------

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    * into cells; queries probe only their nearest cell and rerank by
    * exact cosine inside it.
    *
    * The quantizer here is deterministic — every 32nd vector is a
    * centroid — standing in for k-means centroids (which need iterative
    * fitting; the *serving* dataflow, which is what must scale, is
    * identical: assign = argmin over a broadcast centroid set, cells are
    * shuffle keys, probe = equi-join on cell id). At 100 TB: centroids
    * are a few thousand rows broadcast everywhere; the corpus shuffles
    * once by cell; each query touches 1/|cells| of the data.
    *
    * Fully oracle-checked — centroid choice and every cosine are exact
    * arithmetic mirrored in the SQL. */
  def annIvfProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
    ivfProbeCells(ivfAssign(v, ivfCentroids(spark, v)))
  }

  /** The deterministic coarse quantizer: every `centroidMod`-th vector is
    * a centroid — factored so the batch probe, the persisted-index probe
    * and the streaming index maintenance derive the SAME quantizer. */
  private[graft] def ivfCentroids(spark: SparkSession, v: DataFrame): DataFrame =
    v.filter(col("vec_id") % graft.GraftConf.annCentroidMod(spark) === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))

  /** Assign vectors to their nearest centroid — the INDEX BUILD step.
    * Output (vec_id, embedding, nrm, cell) IS the index table: writing it
    * to parquet bucketed/partitioned by `cell` is the at-rest IVF index. */
  private[graft] def ivfAssign(vecs: DataFrame, cents: DataFrame): DataFrame =
    ivfAssignScored(vecs, cents).drop("ccos")

  /** [[ivfAssign]] keeping the winning centroid similarity (`ccos`) —
    * the extra column [[dedupSemantic]]'s keep policy ranks on; the
    * index tiers drop it so the at-rest layout stays 4 columns. */
  private[graft] def ivfAssignScored(vecs: DataFrame, cents: DataFrame): DataFrame =
    ivfCellRanks(vecs, cents)
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").as("cell"), col("ccos"))

  /** Every vector of `vecs` against every centroid of the broadcast
    * `cents`: cosine `ccos` and its per-vector rank `crnk` (ties to the
    * smaller cent_id) — the one window the assign cuts at crnk = 1 and
    * the nprobe query side at crnk ≤ nprobe ([[ivfTopCells]]). */
  private def ivfCellRanks(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cent_id").asc)
    vecs.join(broadcast(cents))
      .withColumn("ccos",
        dot(col("embedding"), col("ce")) / sqrt(col("nrm") * col("cn")))
      .withColumn("crnk", row_number().over(w))
  }

  /** The nprobe tiers' query side: each query vector (vec_id < 10 of
    * `v`) once per probed cell — its `nprobe` nearest centroids — with
    * that centroid's vector `ce` (the origin of a per-cell residual). */
  private def ivfTopCells(v: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    ivfCellRanks(v.filter(col("vec_id") < 10), cents)
      .filter(col("crnk") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").as("cell"), col("ce"))

  /** TWO-LEVEL (indexed) centroid assign — [[ivfAssignScored]] with the
    * flat argmin over all k centroids replaced by the IVF construction
    * applied to the centroid table ITSELF: every ⌈√k⌉-th centroid (by
    * cent_id rank) is a SUPER-centroid; each centroid belongs to its
    * nearest super-centroid's super-cell (centroid-side work, k·√k dots
    * on a broadcast-sized table); a vector first picks its nearest
    * super-centroid (n·√k dots), then argmins only over that super-cell's
    * ~√k centroids (n·√k dots). Total n·O(√k) vs the flat n·k — the
    * next-decade remedy [[dedupSemantic]]'s scaladoc names, built from
    * the same machinery the at-rest IVF tier probes with.
    *
    * APPROXIMATE by construction: a vector whose true nearest centroid
    * sits in a different super-cell than its probed one is assigned to
    * the best centroid of the PROBED super-cell instead — the standard
    * IVF nprobe=1 cut, applied at the quantizer level. The procedure is
    * fully deterministic (rank-based super-centroid choice, the pinned
    * double fold for every score, ties by id), so the registry oracle
    * replays it EXACTLY in SQL — approximation changes which cell wins,
    * never whether the two engines agree. Every super-cell is non-empty
    * (each super-centroid assigns to itself at cos=1 with the smallest
    * tying id... itself unless an identical twin precedes it — either
    * way deterministic), so every vector gets an assignment.
    *
    * Plan shape: two broadcast joins + two same-key windows — the
    * vec_id exchange is paid ONCE (the second window reuses the first's
    * partitioning; broadcast joins preserve it). */
  private[graft] def ivfAssignScoredIndexed(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // centroid ordinal rank: the table is broadcast-sized by design, so
    // the single-partition ordering window is deliberate, not a funnel —
    // but it ranks the 8-byte ids ONLY (the embedding arrays would make
    // that one task materialize k·dim floats) and joins the rank back
    val ord = cents.select(col("cent_id"))
      .withColumn("ord", row_number().over(Window.orderBy(col("cent_id"))) - 1)
    val ranked = cents.join(broadcast(ord), "cent_id")
    // one tiny bounded action sizes the second level (the bloom-sizing
    // count idiom); mirrored as a scalar subquery in the oracle
    val k = math.max(1L, cents.count())
    val mod2 = math.max(1L, math.ceil(math.sqrt(k.toDouble)).toLong)
    val sup = ranked.filter(col("ord") % mod2 === 0)
      .select(col("cent_id").as("sup_id"), col("ce").as("se"), col("cn").as("sn"))
    val wCent = Window.partitionBy("cent_id")
      .orderBy(col("scos").desc, col("sup_id").asc)
    val centSup = ranked.join(broadcast(sup))
      .withColumn("scos", dot(col("ce"), col("se")) / sqrt(col("cn") * col("sn")))
      .withColumn("srnk", row_number().over(wCent))
      .filter(col("srnk") === 1)
      .select(col("cent_id"), col("ce"), col("cn"), col("sup_id").as("csup"))
    // recall knob (r15 verdict #6): a vector probes its top-nprobe
    // super-cells and argmins over the UNION of their centroids — the
    // ann_ivf_nprobe construction applied at the quantizer level.
    // Candidate centroids are supersets of the nprobe=1 cut, so the
    // winning ccos can only rise (spec-pinned dominance), and probing
    // every super-cell degenerates to the flat assign exactly
    // (spec-pinned). Cost: the probe side emits nprobe rows per vector
    // before the final argmin — n·nprobe·O(√k) dots. Default 1 = the
    // oracle-pinned registry procedure.
    val nprobe = graft.GraftConf.semNprobe(vecs.sparkSession)
    val wProbe = Window.partitionBy("vec_id")
      .orderBy(col("scos").desc, col("sup_id").asc)
    val probed = vecs.join(broadcast(sup))
      .withColumn("scos", dot(col("embedding"), col("se")) / sqrt(col("nrm") * col("sn")))
      .withColumn("srnk", row_number().over(wProbe))
      // spelled `=== 1` at the default: rank-equality rewrites to the
      // same WindowGroupLimit as `<= 1`, but the `<=` spelling costs a
      // SECOND corpus vec_id exchange downstream (the single-exchange
      // invariant PlanAuditSpec pins — see the comment there)
      .filter(if (nprobe == 1) col("srnk") === 1 else col("srnk") <= nprobe)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("sup_id").as("vsup"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cent_id").asc)
    probed.join(broadcast(centSup), col("vsup") === col("csup"))
      .withColumn("ccos", dot(col("embedding"), col("ce")) / sqrt(col("nrm") * col("cn")))
      .withColumn("crnk", row_number().over(wAssign))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").as("cell"), col("ccos"))
  }

  /** The assign [[dedupSemantic]] runs: indexed two-level by default
    * ([[graft.GraftConf.semIndexedAssign]]), flat for A/B comparison. */
  private[graft] def semAssignScored(spark: SparkSession, v: DataFrame): DataFrame = {
    val cents = ivfCentroids(spark, v)
    if (graft.GraftConf.semIndexedAssign(spark)) ivfAssignScoredIndexed(v, cents)
    else ivfAssignScored(v, cents)
  }

  /** SemDeDup — SEMANTIC deduplication of the embedding corpus by the
    * cluster-then-prune recipe (the published SemDeDup method, Abbas et
    * al. 2023, arXiv:2303.09540):
    * the corpus is coarse-quantized into cells by the SAME deterministic
    * quantizer the IVF ANN tier serves from ([[ivfCentroids]] +
    * [[ivfAssignScored]]), near-duplicate GROUPS form within cells
    * (pairs at cosine ≥ [[ClusterCosThreshold]], connected components),
    * and each group keeps exactly ONE representative — the member LEAST
    * similar to its own cell centroid (ties to the smallest vec_id).
    * Keeping the boundary point rather than the densest interior copy is
    * the paper's policy: the survivor set preserves each cell's spread
    * while the near-identical interior collapses.
    *
    * Differs from [[embedDedupClusters]] in BOTH halves: candidates are
    * blocked by the k-means-style cell (not LSH band buckets), and the
    * keeper is centroid-distance-ranked (not min-id). Within-cell
    * blocking is the documented SemDeDup approximation — a near-dup pair
    * straddling a cell boundary is not considered, the same recall cut
    * the ANN tradeoff table quantifies for this quantizer.
    *
    * Scale shape: the quantizer holds cell OCCUPANCY constant (cells ∝
    * corpus), so the within-cell pair space is LINEAR by design and its
    * enumeration goes through [[PairEnum.blockedSelfJoinPairs]] (task
    * work bounded by B² whatever the cell sizes); the CC fixpoint
    * touches edge-involved vectors only; the keeper window partitions by
    * group (near-dup family sizes, never corpus-sized). The assign is
    * the TWO-LEVEL indexed argmin ([[ivfAssignScoredIndexed]]) — n·O(√k)
    * dots instead of the flat n·k = n²/mod term that was the board's one
    * measured super-linear cost through r14 (SCALE_r14_sem_x100 showed
    * it visibly entering at ×100; the r15 rerun measures the drop). The
    * two-level cell choice is an IVF nprobe=1 approximation of the flat
    * argmin — a different-but-deterministic blocking, replayed exactly
    * by the oracle (its recall is recorded in SEMDEDUP_RECALL.json);
    * [[graft.GraftConf.semIndexedAssign]] keeps the flat path for A/B.
    * The pair threshold reads [[graft.GraftConf.semCosThreshold]]
    * (default = the oracle-pinned fixture threshold), so the tight-τ
    * production regime needs no fork of the operator. Output is
    * corpus-sized — every vector, its
    * group, and the keep/drop decision a training-set writer consumes. */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
    val assigned = PinCache.pinned(semAssignScored(spark, v))
    val pairs = PairEnum.blockedSelfJoinPairs(assigned, Seq("cell"), "vec_id",
        Seq("embedding", "nrm"))
      .withColumn("cos",
        dot(col("a_embedding"), col("b_embedding")) /
          sqrt(col("a_nrm") * col("b_nrm")))
      .filter(col("cos") >= graft.GraftConf.semCosThreshold(spark))
      .select(col("a_vec_id").as("vec_a"), col("b_vec_id").as("vec_b"))
    val labels = DedupOps.connectedComponents(assigned.select(col("vec_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("label").as("group_id"))
    // one window spec for both: the size counts the whole partition
    val wKeep = Window.partitionBy("group_id")
      .orderBy(col("ccos").asc, col("vec_id").asc)
    labels
      .join(assigned.select("vec_id", "cell", "ccos"), "vec_id")
      .select(col("vec_id"), col("cell"), col("group_id"),
        count(lit(1)).over(wKeep.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("group_size"),
        (row_number().over(wKeep) === 1).as("is_keeper"))
      .orderBy("vec_id")
  }

  /** Probe an IVF index table (vec_id, embedding, nrm, cell): queries are
    * the indexed vectors with vec_id < 10, candidates their own cell,
    * exact rerank to top-3 — identical no matter whether the index was
    * just built, read back from parquet, or maintained by a stream. */
  private[graft] def ivfProbeCells(assigned: DataFrame): DataFrame =
    annProbe(assigned.filter(col("vec_id") < 10)
      .select("vec_id", "embedding", "nrm", "cell"), assigned, Nil, depth = 3)

  /** Multi-cell IVF probe — the `nprobe > 1` form every production IVF
    * deployment actually runs (the FAISS `nprobe` recall/latency knob):
    * the corpus index is EXACTLY [[annIvfProbe]]'s (each vector in its
    * single nearest cell — the at-rest layout is unchanged), but a
    * query probes its [[graft.GraftConf.annNprobe]] nearest cells and
    * reranks over their union. Candidates are a SUPERSET of the
    * single-cell probe's (the nearest cell ranks first in its own
    * top-nprobe list), so recall can only rise — EmbedAnnSpec pins the
    * rank-for-rank cosine dominance and the exact nprobe=1 degeneration
    * to `ann_ivf_probe`; `ann_recall_nprobe` gates its recall next to
    * the nprobe=1 tier. At 100 TB the cost is nprobe
    * partition-pruned cell scans per query instead of one — the knob
    * that buys back the recall the coarse quantizer's nprobe=1 cut
    * gives up, without touching the index. Output carries the
    * NEIGHBOR's cell (each corpus vector lives in exactly one cell; the
    * query's probed-cell list is not a per-row fact). Fully
    * hash-oracled: the query-side top-nprobe cell cut is the same
    * windowed argmax the assign uses, at crnk ≤ nprobe. */
  def annIvfNprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
    val cents = ivfCentroids(spark, v)
    annProbe(ivfTopCells(v, cents, graft.GraftConf.annNprobe(spark)),
      ivfAssign(v, cents), Nil, depth = 3)
  }

  /** ANN index-quality EVALUATION as a distributed operator — per-query
    * recall@3 of the single-cell IVF probe against the exact brute-force
    * ground truth, the acceptance metric every ANN deployment gates its
    * index build on (the FAISS-benchmark recall@k protocol). Unlike the
    * driver-side AnnTradeoff harness (a reporting artifact), this is the
    * IN-ENGINE form a 100 TB pipeline runs after each index rebuild: both
    * sides are the registry operators' own plans ([[annTopkBrute]] cut to
    * depth 3 — the probe's depth — and [[annIvfProbe]]), the hit check is
    * a broadcast-sized semi-join (10 queries × 3 rows a side), and the
    * per-query hit count divides by the fixed depth. Recall can be 0/3 —
    * the left join from the ground-truth query list keeps zero-hit
    * queries in the report (a probe that returns nothing for a query is
    * the failure the metric exists to catch). Fully deterministic, so the
    * oracle composes the two tiers' CTE chains verbatim. */
  def annRecallEval(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annIvfProbe(spark, sfDir), depth = 3)

  /** The recall gate GENERALIZED across the serving ladder (r15 verdict
    * #4): the same hit check against the same brute truth, at each
    * tier's own probe depth — the acceptance protocol a rebuild
    * actually runs is a COMPARISON of tiers, not one number. Each tier
    * gets its own registry query (`ann_recall_*`) so a pipeline can
    * gate any subset; the oracles wrap each tier's own oracle statement
    * verbatim ([[sqlRecallOf]]), so the evaluated probe and the gate
    * cannot diverge. Scale shape unchanged from [[annRecallEval]]: both
    * pair sets are |queries|·depth rows at any corpus size, broadcast
    * so the hit check never sort-merges. */
  private def recallEvalOf(spark: SparkSession, sfDir: String,
      probeDf: DataFrame, depth: Int): DataFrame = {
    val truth = annTopkBrute(spark, sfDir).filter(col("rnk") <= depth)
      .select(col("query_id"), col("neighbor_id"))
    val probe = probeDf.select(col("query_id"), col("neighbor_id"))
    // both sides are |queries|·k rows at any corpus size — broadcast them
    // so the hit check never sort-merges (the plan pin)
    val hits = probe.join(broadcast(truth), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    truth.select("query_id").distinct()
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall", col("n_hits").cast(DoubleType) / lit(depth.toDouble))
      .orderBy("query_id")
  }

  def annRecallNprobe(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annIvfNprobe(spark, sfDir), depth = 3)

  def annRecallSq8(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annSq8(spark, sfDir), depth = 5)

  def annRecallBinary(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annBinarySign(spark, sfDir), depth = 5)

  def annRecallPqFitted(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annPqAdcFitted(spark, sfDir), depth = 5)

  /** The recall ladder extended over the composed IVF-PQ serving tiers
    * (r16 verdict #5): the flagship production family was the one rung
    * measured only by the driver-side AnnTradeoff artifact — these make
    * its acceptance gate a registry operator like the four shipped
    * gates, through the same [[recallEvalOf]]/[[sqlRecallOf]] pair so
    * the evaluated probe and the gate cannot diverge. Depth 3 = the
    * tiers' own probe depth. */
  def annRecallIvfPq(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annIvfPq(spark, sfDir), depth = 3)

  def annRecallIvfPqFitted(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annIvfPqFitted(spark, sfDir), depth = 3)

  /** HARD-NEGATIVE mining for contrastive training — the pair-mining
    * step of every dense-retriever / embedding-model training pipeline
    * (DPR, Karpukhin et al. 2020; Sentence-BERT): for each query vector,
    * the top-3 most-similar vectors carrying a DIFFERENT label.
    * Semantically close but labeled wrong is exactly the negative that
    * moves a contrastive loss; random negatives are trivially separable.
    *
    * Exact brute tier (the [[annTopkBrute]] convention): broadcast query
    * set × corpus narrow scan with the label-mismatch predicate fused
    * into the join condition (candidates with the query's own label are
    * dropped BEFORE scoring, not after), per-query bounded top-3 via the
    * rank-1 window (TopKPerKey under the extensions), no global sort.
    * At scale the bucketed ANN front ends (LSH/IVF) swap in ahead of the
    * same label filter + rerank, unchanged — the recall cost of that
    * swap is what [[annRecallEval]] measures. */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
      .select("vec_id", "label", "embedding", "nrm")
    val q = v.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(q).join(v,
        col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("neg_label"),
        (dot(col("qe"), col("embedding")) / sqrt(col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("neg_label"), col("cos"))
      .orderBy("query_id", "rnk")
  }

  /** Distributed LOGISTIC-REGRESSION training of a linear probe over the
    * embedding corpus — the engine's model-training primitive: the
    * fastText-shaped linear classifier production curation stacks train
    * over their own corpus (the GPT-3 quality filter; CCNet's filters),
    * here probing the representation for the fixture's label structure
    * (binary target `label < 5`; linear probing à la Alain & Bengio
    * 2016), with THREE full-batch gradient-descent steps (lr = 4)
    * unrolled into one lazy Catalyst plan.
    *
    * Scale shape — textbook data-parallel GD: each step is ONE corpus
    * scan ending in a tree-aggregated gradient row (64 dims + bias + n,
    * all map-side partial LONG sums — the only bytes that cross the
    * network are 66 longs per partition), and the updated model re-enters
    * the next step as a broadcast 1-row frame. Step count is fixed, so
    * training costs 4 scans (3 steps + the accuracy pass) at any corpus
    * size, with zero corpus shuffle anywhere.
    *
    * Cross-engine exactness: z = w·x + b uses the pinned left-to-right
    * [[dot]] fold; σ(z) — the one transcendental — quantizes to the 2⁻²⁰
    * grid immediately (`floor(σ(z)·2²⁰)/2²⁰`, the [[IrOps]] idf
    * doctrine); each row's per-dimension gradient contribution
    * floor-quantizes to the same grid as a BIGINT, making the per-step
    * SUM exact and merge-order-free at any parallelism; the weight
    * update is pinned-order IEEE ops. The DuckDB oracle replays each
    * step as a gradient CTE + a scalar weight CTE and hash-matches the
    * trained model AND its training accuracy; EmbedAnnSpec replays the
    * whole descent driver-side and pins that the probe beats the
    * majority class (the representation is actually learnable — the
    * assertion a degenerate trainer would fail). */
  private val LrGrid = lit(1048576.0d)
  private val LrRate = lit(4.0d)
  private val lrZ: Column = dot(col("w"), col("embedding")) + col("wb")

  /** The labeled-feature view shared by both LR trainers. */
  private def lrFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        when(col("label") < 5, 1.0d).otherwise(0.0d).as("y"))

  /** One full-batch GD step — shared by the fixed-step and the
    * convergence-gated trainers so they cannot diverge on the
    * arithmetic. Per-step gradient layout: each row emits its 66-long
    * contribution vector [g_0..g_63, g_bias, 1] and the sums run as a
    * tiny keyed aggregate over the exploded (dim, contribution) pairs —
    * exact LONG sums are merge-order-free, so this is value-identical
    * to a single wide aggregate, but it stays inside whole-stage
    * codegen (66 sum accumulators in one aggregate blow the 64 KB
    * codegen method limit and drop the whole stage to interpreted eval
    * — measured 3× slower). */
  private def lrStep(v: DataFrame, w: DataFrame): DataFrame = {
    val e = v.crossJoin(broadcast(w)).withColumn("e",
      floor((lit(1.0d) / (lit(1.0d) + exp(-lrZ))) * LrGrid) / LrGrid - col("y"))
    val gs = e.select(posexplode(concat(
        transform(col("embedding"),
          x => floor((col("e") * x.cast("double")) * LrGrid).cast("long")),
        array(floor(col("e") * LrGrid).cast("long"), lit(1L)))).as(Seq("j", "c")))
      .groupBy("j").agg(sum(col("c")).as("s"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("s")))),
        s => s.getField("s")).as("gs"))
    val n = element_at(col("gs"), DIM + 2).cast("double")
    def upd(prev: Column, g: Column): Column =
      prev - LrRate * ((g.cast("double") / LrGrid) / n)
    w.crossJoin(broadcast(gs)).select(
      array((0 until DIM).map(j =>
        upd(element_at(col("w"), j + 1), element_at(col("gs"), j + 1))): _*).as("w"),
      upd(col("wb"), element_at(col("gs"), DIM + 1)).as("wb"))
  }

  /** The trained-model report: per-dimension weight rows + bias +
    * training accuracy (+ any extra scalar terms, e.g. the converged
    * trainer's step count). */
  private def lrReport(spark: SparkSession, v: DataFrame, wT: DataFrame,
      extra: Seq[(String, Double)]): DataFrame = {
    val acc = v.crossJoin(broadcast(wT))
      .agg((sum(when((lrZ >= lit(0.0d)) === (col("y") === 1.0d), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("value"))
      .select(lit("accuracy").as("term"), col("value"))
    val dims = wT.select(posexplode(col("w")).as(Seq("j", "wj")))
      .select(concat(lit("w_"), lpad(col("j").cast("string"), 3, "0")).as("term"),
        col("wj").as("value"))
    val base = dims
      .unionByName(wT.select(lit("w_bias").as("term"), col("wb").as("value")))
      .unionByName(acc)
    extra.foldLeft(base) { case (df, (t, x)) =>
      df.unionByName(spark.range(1).select(lit(t).as("term"), lit(x).as("value")))
    }.orderBy("term")
  }

  /** A 65-double model row as a 1-row literal frame — shared by both
    * trainers (the converged trainer always stepped this way; the fixed
    * trainer adopted it in r18, see [[embedLrProbe]]). */
  private def lrModelFrame(spark: SparkSession,
      w: Seq[Double], wb: Double): DataFrame =
    spark.range(1).select(array(w.map(lit): _*).as("w"), lit(wb).as("wb"))

  /** Spec hook (r18): ONE GD step's plan over a zero model — the frame
    * the eager trainer runs per step, exposed so PlanAuditSpec can keep
    * pinning the step's shape (map-side partial gradient sums, no
    * corpus-keyed exchange) now that the steps run at build time and no
    * longer appear in the report's own plan. */
  private[graft] def lrStepPlanProbe(spark: SparkSession, sfDir: String): DataFrame =
    lrStep(lrFeatures(spark, sfDir),
      lrModelFrame(spark, Seq.fill(DIM)(0.0d), 0.0d))

  def embedLrProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val v = lrFeatures(spark, sfDir)
    // REGISTRY NOTE (r18 advice, documented): construction runs the GD
    // steps — three bounded collect() jobs — so a plan-only consumer
    // (a plan dump) triggers corpus scans as a build side
    // effect. Accepted for the same reason as Fixpoint.eagerCheckpoint (see its
    // scaladoc): iterative training IS driver-paced, and every timed
    // harness times build+action together.
    // unroll depth = the family's one step constant, shared with the
    // converged trainer's default budget and both oracles' replay.
    // Each step's 65-double model is COLLECTED (1 bounded row — the
    // embedLrConverged idiom) and re-enters as literals, so step i+1 is
    // ONE corpus scan: the lazy unrolled chain this replaces nested all
    // three steps into one plan that the report's two consumers (acc,
    // dims) then re-executed end to end — measured 22 jobs / 4.8 s at
    // sf0.1, vs ~9 jobs after (r18). The collected doubles round-trip
    // exactly, so the oracle's fixed 3-step replay is unchanged.
    val wT = (1 to graft.GraftConf.LrStepsDefault)
      .foldLeft(lrModelFrame(spark, Seq.fill(DIM)(0.0d), 0.0d)) { (w, _) =>
        val row = lrStep(v, w).collect()(0)
        lrModelFrame(spark, row.getSeq[Double](0), row.getDouble(1))
      }
    lrReport(spark, v, wT, Nil)
  }

  /** CONVERGENCE-GATED LR training — [[embedLrProbe]]'s production
    * shape (r15 verdict stretch #7): instead of a fixed unrolled step
    * count, the driver drains GD steps until the mean-|error| loss
    * improvement falls below `spark.graft.lr.tol` or
    * `spark.graft.lr.maxSteps` binds — the [[GraphOps]]
    * `graph_bfs_converged` fixpoint doctrine applied to training. LOUD
    * at the bound: a training loop that silently stops at maxSteps
    * reads as "converged" when it is merely out of budget.
    *
    * Determinism: the loss is the mean |e| over the SAME 2⁻²⁰-grid
    * error the gradient uses — e is grid-quantized, so |e|·2²⁰ is an
    * exact LONG and the per-step loss sum is merge-order-free; the
    * stop decision therefore replays identically at any parallelism.
    * Each step's 65-double model is collected (1 row, bounded) and
    * re-enters as literals, so step i+1 is ONE corpus scan — the lazy
    * unrolled form would replay steps 1..i under the per-step loss
    * action. Convergence costs one extra loss scan per step (2 scans
    * per step vs the fixed trainer's 1) — the price of the gate.
    *
    * With the registry defaults (maxSteps=3, tol=1e-6) the bound BINDS
    * on the fixture (the step-3 improvement is far above tol — asserted
    * by the spec), so the oracle is the fixed 3-step replay plus the
    * `n_steps` row; EmbedAnnSpec pins the fixed-step equivalence and
    * the early stop under a loose tol. */
  def embedLrConverged(spark: SparkSession, sfDir: String): DataFrame = {
    val maxSteps = graft.GraftConf.lrMaxSteps(spark)
    val tol = graft.GraftConf.lrTol(spark)
    val v = lrFeatures(spark, sfDir)
    def asFrame(w: Seq[Double], wb: Double): DataFrame =
      lrModelFrame(spark, w, wb)
    def lossOf(w: DataFrame): Double = {
      val e = floor((lit(1.0d) / (lit(1.0d) + exp(-lrZ))) * LrGrid) / LrGrid - col("y")
      val r = v.crossJoin(broadcast(w))
        .agg(sum(abs(e * LrGrid).cast("long")).as("s"), count(lit(1)).as("n"))
        .collect()(0)
      r.getLong(0).toDouble / 1048576.0d / r.getLong(1).toDouble
    }
    var cur = asFrame(Seq.fill(DIM)(0.0d), 0.0d)
    var prevLoss = lossOf(cur)
    var steps = 0
    var converged = false
    while (steps < maxSteps && !converged) {
      val row = lrStep(v, cur).collect()(0)
      cur = asFrame(row.getSeq[Double](0), row.getDouble(1))
      steps += 1
      val loss = lossOf(cur)
      if (prevLoss - loss < tol) converged = true
      prevLoss = loss
    }
    if (!converged)
      org.apache.logging.log4j.LogManager.getLogger("graft")
        .warn(s"lr.maxSteps=$maxSteps bound binds (last improvement still " +
          s">= tol=$tol) — the model below is budget-stopped, NOT converged")
    lrReport(spark, v, cur, Seq("n_steps" -> steps.toDouble))
  }

  /** IVF index PERSISTENCE — the index-amortization path: build the
    * index table ONCE, write it to parquet partitioned by `cell`, and
    * probe the AT-REST index. At 100 TB this is the production shape —
    * the corpus-sized assign pass is paid per ingest, not per query
    * batch, and the cell-partitioned layout is what makes a single-cell
    * point probe a partition-pruned scan (this registry query probes 10
    * queries' cells through the cell join; dynamic partition pruning
    * applies the same cut at scale). The result is
    * bit-identical to [[annIvfProbe]] (same quantizer, same rerank —
    * float arrays and norms round-trip parquet exactly), so the SAME
    * DuckDB oracle gates both. */
  def annIvfPersist(spark: SparkSession, sfDir: String): DataFrame = {
    // materializeOnce, keyed by the quantizer conf AND a cheap corpus
    // fingerprint (row count + max vec_id — one tiny aggregate per call):
    // first call pays the ingest-side assign+write, later calls probe the
    // warm at-rest index — the amortization IS the story; a temp dir per
    // call would leak a corpus-sized copy per bench reaping nothing
    // (review finding). The fingerprint invalidates reuse when the
    // embeddings fixture under the same sfDir is REGENERATED: without it
    // a bench-only run (no verify gate in the loop) would silently probe
    // the stale index (ADVICE r13).
    val mod = graft.GraftConf.annCentroidMod(spark)
    val fp = embCorpusFp(spark, sfDir)
    val dir = FileOps.materializeOnce(spark, s"ivf_index_m${mod}_$fp", sfDir) { d =>
      val v = withNorm(Tables.embeddings(spark, sfDir))
      ivfAssign(v, ivfCentroids(spark, v))
        .write.mode("overwrite").partitionBy("cell").parquet(d)
    }
    ivfProbeCells(readCellIndex(spark, dir))
  }

  // --- IVF with a fitted (k-means) quantizer -------------------------------

  /** DataFrame-native Lloyd iterations fitting the IVF coarse quantizer.
    *
    * Each iteration is two shuffles, both aggregate-shaped:
    *  1. assign: corpus ⋈ broadcast(centroids), squared distance via the
    *     native dot expression, argmin as `min(struct(dist², cent_id))` —
    *     a map-side-combinable aggregate, no window;
    *  2. update: `posexplode` to (cell, dim, value), per-(cell, dim) mean
    *     in exact 2⁻²⁰ fixed point (merge-order independent ⇒ the fitted centroids
    *     are bit-deterministic run to run), re-assembled into an array by
    *     position sort.
    *
    * Centroid count stays a broadcastable few-thousand rows at any corpus
    * size; the corpus-sized side only ever flows through narrow maps and
    * partial aggregates. Empty cells drop out (k shrinks), which Lloyd
    * tolerates. */
  def kmeansFit(v: DataFrame, iters: Int): DataFrame = {
    val init = v.filter(col("vec_id") % graft.GraftConf.annCentroidMod(v.sparkSession) === 0)
      .select(col("vec_id").as("cent_id"),
        transform(col("embedding"), _.cast("double")).as("ce"))
    (1 to iters).foldLeft(init) { (cents, _) =>
      val cn = cents.withColumn("cn", dot(col("ce"), col("ce")))
      lloydGeneration(v.join(broadcast(cn))
          .withColumn("dist2",
            col("nrm") + col("cn") - lit(2.0) * dot(col("embedding"), col("ce"))),
        Seq("vec_id"), Seq("cent_id"), "embedding", cents)
    }
  }

  /** One Lloyd generation, shared by [[kmeansFit]] and [[pqFit]].
    * `scored` pairs every point (keyed by `pointKeys`) with every
    * candidate centroid (keyed by `centKeys`, the centroid id last) at
    * squared distance `dist2`, and carries the point's vector `vec`.
    * Each point goes to its argmin centroid — `min(struct(dist2, id))`,
    * a map-side-combinable aggregate with ties to the smaller id — and
    * each centroid becomes the per-dimension mean of its members,
    * re-assembled into an array by position sort. The new generation is
    * materialized and `prev` unpersisted. */
  private def lloydGeneration(scored: DataFrame, pointKeys: Seq[String],
      centKeys: Seq[String], vec: String, prev: DataFrame): DataFrame = {
    val id = centKeys.last
    val keys = centKeys.map(col)
    val next = scored.groupBy(pointKeys.map(col): _*)
      .agg(min(struct(col("dist2"), col(id))).as("best"),
        // per point the vector is constant; min() is just the
        // deterministic (merge-order-free) way to carry it through
        min(col(vec)).as("pt"))
      .select(centKeys.init.map(col) :+ col(s"best.$id").as(id) :+ col("pt"): _*)
      .select(keys :+ posexplode(col("pt")): _*)
      .groupBy(keys :+ col("pos"): _*)
      // TIE-FREE exact mean: values quantize to the 2⁻²⁰ binary grid by
      // floor (the idf-grid doctrine), sum as exact BIGINTs, then two
      // IEEE divisions. The earlier DECIMAL(28,12) cast was latently
      // engine-divergent: a dyadic double CAN land exactly on the
      // 1e-12 half boundary, where Spark rounds HALF_UP and DuckDB
      // HALF_EVEN — observed on pq_train (member 0.1983642578125).
      // floor has no tie, and x·2²⁰ is an exact exponent shift on
      // float-derived doubles.
      .agg(((sum(floor(col("col").cast(DoubleType) * lit(1048576.0)))
          .cast(DoubleType) / lit(1048576.0)) / count(lit(1)))
        .as("mean"))
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(keys :+ transform(col("pm"), _.getField("mean")).as("ce"): _*)
    // materialize each generation (centroid-count rows at any corpus
    // size): without this the lazy lineage makes iteration i re-execute
    // iterations 1..i-1 — exponential replays — and the serving probe
    // would recompute the whole fit once per reference
    next.persist()
    next.count()
    prev.unpersist() // previous generation no longer referenced (no-op on init)
    next
  }

  /** IVF probe over the FITTED quantizer — identical serving dataflow to
    * [[annIvfProbe]] (broadcast centroids, cells as shuffle keys, probe =
    * equi-join) but with Lloyd-iterated centroids. Fully oracle-checked:
    * the fixed iteration count unrolls into plain SQL (one CTE pair per
    * Lloyd round, mirrored by [[sqlLloydIter]]), and the
    * decimal-sum→double→divide centroid mean makes every centroid
    * coordinate bit-identical across engines. Also recall-gated against
    * the brute-force ground truth in the spec. */
  def annIvfKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
    val cents = kmeansFit(v, iters = 2)
      .select(col("cent_id"), col("ce"))
      .withColumn("cn", dot(col("ce"), col("ce")))
    ivfProbeCells(ivfAssign(v, cents))
  }

  /** kNN majority-vote classification: the held-out query vectors
    * (vec_id < 50) take the majority label of their 5 nearest corpus
    * neighbors by cosine (vec_id ≥ 50), ties broken toward the smaller
    * label. This is the label-propagation primitive downstream of any
    * ANN index (quality-tier transfer, weak labeling); here it runs on
    * the brute-force scorer so the prediction itself is exact and fully
    * oracled — swap [[annLshBucketG]]/IVF cells in front of the same
    * vote to make it approximate at scale. The probe set broadcasts
    * (queries are the small side by construction); the corpus only
    * streams — no shuffle of the big side at all. */
  def embedKnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("label").cast("long").as("label"))
    val q = v.filter(col("vec_id") < 50)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val corpus = v.filter(col("vec_id") >= 50)
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val wVote = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("label").asc)
    corpus.crossJoin(broadcast(q))
      .select(col("query_id"), col("true_label"),
        col("vec_id").as("neighbor_id"), col("label"),
        (dot(col("qe"), col("embedding")) / sqrt(col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 5)
      .groupBy(col("query_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("true_label"),
        col("label").as("pred_label"), col("n_votes"))
      .orderBy("query_id")
  }

  // --- Product quantization ------------------------------------------------

  /** PQ geometry: M=4 subspaces of 16 dims, K=8 centroids each → a
    * 12-bit code per vector. Codebook entries are deterministic
    * pseudo-random constants with denominator 1024 (same family as the
    * LSH planes) so their decimal literals round-trip exactly into the
    * SQL oracle. */
  private val PqM = 4; private val PqK = 8; private val PqSub = 16
  private def pqCent(m: Int, k: Int): Seq[Double] =
    (0 until PqSub).map { d =>
      (((1103515245L * (m * PqK * PqSub + k * PqSub + d) + 54321L) % 2048L
        + 2048L) % 2048L - 1024L) / 1024.0
    }

  /** Squared L2 from `embedding`'s m-th subvector to codebook entry
    * (m, k) — the ONE distance definition both the encoder (corpus
    * codes = per-subspace argmin over k) and the ADC probe (query
    * distance table = all M×K of these) share, folded left-to-right
    * per element so both consumers stay bit-identical to the SQL
    * spelling ([[sqlPqDist]]). */
  private def pqSubDist(m: Int, k: Int): Column =
    pqSubDistOn(col("embedding"), m, k)

  /** [[pqSubDist]] over an arbitrary vector column — the residual tier
    * encodes `embedding − cell centroid` instead of the raw vector. */
  private def pqSubDistOn(vec: Column, m: Int, k: Int): Column =
    l2Fold(slice(vec, 1 + m * PqSub, PqSub), array(pqCent(m, k).map(lit): _*))

  /** Left-to-right squared-L2 fold — THE one distance definition of the
    * whole PQ family (fixed and fitted codebooks, corpus encode and
    * query ADC table), bit-identical to the DuckDB
    * `list_sum(list_transform(list_zip(...)))` spelling. */
  private def l2Fold(a: Column, b: Column): Column =
    // native codegen kernel (r18): same left-to-right double fold as the
    // former `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, +)` —
    // see [[graft.functions.SqL2Fold]] for the exact-equivalence notes.
    // HOFs are CodegenFallback and this kernel runs M·K times per corpus
    // row in every PQ encode/probe, so the interpreted form dominated
    // the family's single-task stages.
    graft.functions.VectorFunctions.vecL2Sq(a, b)

  /** The fixed pseudo-random codebook as a lookup — the default the
    * parameterized encode/probe helpers close over; the FITTED tier
    * substitutes [[pqFit]]'s collected (vocabulary-sized) result. */
  private val pqCbFixed: Map[(Int, Int), Seq[Double]] =
    (for (m <- 0 until PqM; k <- 0 until PqK) yield (m, k) -> pqCent(m, k)).toMap

  /** Surviving code ids of subspace m under a codebook (Lloyd may drop
    * an empty cluster; the fixed book always has all K). */
  private def pqKs(cb: Map[(Int, Int), Seq[Double]], m: Int): Seq[Int] =
    cb.keysIterator.filter(_._1 == m).map(_._2).toSeq.sorted

  /** Adds `code0..3` (per-subspace argmin code) and `dist0..3` (the
    * argmin's squared L2 — the distortion terms) to a frame carrying
    * `embedding`. Pure narrow map; shared by [[pqEncode]] and
    * [[annPqAdc]]'s corpus side. */
  private[graft] def pqCoded(base: DataFrame, vec: Column = col("embedding"),
      cb: Map[(Int, Int), Seq[Double]] = pqCbFixed,
      prefix: String = "code"): DataFrame = {
    // all 2·M new columns land in ONE select (not a withColumn fold):
    // every withColumn re-analyzes the whole growing plan, which made
    // DataFrame CONSTRUCTION quadratic in the column count — measured
    // 2.5 s of the refine tier's 6.5 s warm wall (r18 §1). The columns
    // only reference `vec`, never each other, so one projection is
    // value-identical to the fold.
    val newCols = (0 until PqM).flatMap { m =>
      val ks = pqKs(cb, m)
      val dists = ks.map(k =>
        l2Fold(slice(vec, 1 + m * PqSub, PqSub), array(cb((m, k)).map(lit): _*)))
      val minD = if (dists.size == 1) dists.head else least(dists: _*)
      val distName = if (prefix == "code") s"dist$m" else s"${prefix}_dist$m"
      Seq(
        coalesce(dists.zip(ks).map { case (d, k) =>
          when(d === minD, lit(k.toLong))
        }: _*).as(s"$prefix$m"),
        minD.as(distName))
    }
    base.select(col("*") +: newCols: _*)
  }

  /** The corpus exploded into per-subspace DOUBLE subvectors
    * (vec_id, m, sub) — the training view of the PQ fit. Narrow map. */
  private def pqSubs(v: DataFrame): DataFrame =
    v.select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
        transform(slice(col("embedding"), 1 + m * PqSub, PqSub),
          _.cast("double"))): _*)))
      .select(col("vec_id"), col("pos").cast("int").as("m"), col("col").as("sub"))

  /** Subspace k-means — Lloyd fit of a DATA-DEPENDENT PQ codebook
    * (Jégou-Douze-Schmid 2011 §III.B train their codebooks exactly so;
    * the fixed pseudo-random book above is the oracle-friendly stand-in
    * whose cost ANN_TRADEOFF measures: recall@k 0.000 at ×10,
    * distortion 18.8). Same doctrine as [[kmeansFit]]: deterministic
    * init (subspace m's centroid k = vec_id k's m-th subvector),
    * argmin assign via min(struct(dist2, k)) — ties to the smaller
    * code, the coalesce chain's order — and the exact-decimal
    * sum→double→divide mean that makes every fitted coordinate
    * bit-identical in DuckDB; each generation (≤ M·K rows) persists so
    * iteration i never replays 1..i−1. Empty clusters drop out (codes
    * are cluster IDS, not positions, so consumers argmin over the
    * surviving ids). Scale: the corpus only flows through narrow maps
    * and (vec_id,m)/(m,k,pos)-keyed partial aggregates; the codebook is
    * vocabulary-sized (≤ 32 rows) at any corpus size. */
  private[graft] def pqFit(v: DataFrame, iters: Int): DataFrame = {
    val subs = pqSubs(v)
    val init = subs.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("k"), col("sub").as("ce"))
    (1 to iters).foldLeft(init) { (cb, _) =>
      lloydGeneration(subs.join(broadcast(cb), "m")
          .withColumn("dist2", l2Fold(col("sub"), col("ce"))),
        Seq("vec_id", "m"), Seq("m", "k"), "sub", cb)
    }
  }

  /** The fitted codebook gathered to the driver — vocabulary-sized
    * (≤ M·K = 32 rows) by construction at ANY corpus size, the BPE
    * vocab-gather doctrine: the collect is bounded by the codebook
    * geometry, never by the corpus. */
  private[graft] def pqFitCodebook(v: DataFrame): Map[(Int, Int), Seq[Double]] = {
    pqFitRuns.incrementAndGet()
    pqFit(v, iters = 2).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
  }

  /** Count of subspace-Lloyd fits actually executed — the spec's witness
    * that [[pqFitCodebookCached]] trains once per (corpus, mode) and the
    * second build of a `*_fitted` query triggers NO Lloyd jobs. */
  private[graft] val pqFitRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The fitted book MEMOIZED per (application, corpus dir, input mode,
    * quantizer conf, corpus fingerprint) — the r16 verdict #3: the
    * two-round subspace-Lloyd fit (two corpus scans per round) was paid
    * at every query-BUILD of the three `*_fitted` consumers, although
    * the tier's own scaladoc story is "train once, serve narrow". Same
    * key discipline as the at-rest index ([[FileOps.materializeOnce]] in
    * [[annIvfPqPersist]]): [[embCorpusFp]] folds row count + max vec_id
    * into the key, so a regenerated fixture under the same dir refits
    * instead of serving a stale book; the residual mode additionally
    * keys on `ann.centroidMod` (its input is the IVF residuals, which
    * move with the coarse quantizer). The cached value is the collected
    * vocabulary-sized map (≤ M·K = 32 rows at ANY corpus size), so
    * unlike the DataFrame caches there is no executor storage to pin or
    * leak — driver memory only, bounded by the book geometry. */
  private val pqBookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[(Int, Int), Seq[Double]]]()

  private def pqFitCodebookCached(spark: SparkSession, sfDir: String,
      input: String): Map[(Int, Int), Seq[Double]] = {
    val modKey =
      if (input == "residual" || input == "refine")
        s"|m${graft.GraftConf.annCentroidMod(spark)}" else ""
    val key = spark.sparkContext.applicationId + "|" + sfDir + "|" + input +
      modKey + "|" + embCorpusFp(spark, sfDir)
    // the refine mode's input depends on the residual book — resolve it
    // OUTSIDE computeIfAbsent (a nested computeIfAbsent on the same map
    // is a recursive update)
    val cb1ForRefine =
      if (input == "refine") Some(pqFitCodebookCached(spark, sfDir, "residual"))
      else None
    pqBookCache.computeIfAbsent(key, _ => pqFitCodebook(input match {
      case "residual" => ivfResiduals(spark, sfDir)
        .select(col("vec_id"), col("res").as("embedding"))
      case "refine" =>
        // the refine tier's level-2 training set: the level-1
        // reconstruction error under the FITTED residual book
        val cb1 = cb1ForRefine.get
        pqCoded(ivfResiduals(spark, sfDir), col("res"), cb1)
          .withColumn("err", pqReconErr(col("res"), cb1))
          .select(col("vec_id"), col("err").as("embedding"))
      case _ => Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    }))
  }

  /** The fitted codebook as a registry query: (m, k, dim, value) rows —
    * the trainable half of the PQ family, hash-oracled by unrolling both
    * Lloyd rounds into SQL CTEs exactly like `ann_ivf_kmeans`. */
  def pqTrain(spark: SparkSession, sfDir: String): DataFrame = {
    // residual-input mode (spark.graft.pq.fitInput = residual): fit the
    // book on the IVF residuals — the input the fitted-residual serving
    // tier actually encodes. Same fit, same tie-free grid mean; the
    // registry oracle pins the raw default, PqFamilySpec pins the
    // steering (residual-fitted book ≠ raw-fitted book, non-vacuous).
    val in = graft.GraftConf.pqFitInput(spark) match {
      case "residual" => ivfResiduals(spark, sfDir)
        .select(col("vec_id"), col("res").as("embedding"))
      case _ => Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    }
    pqFit(in, iters = 2)
      .select(col("m").cast("long").as("m"), col("k").cast("long").as("k"),
        posexplode(col("ce")))
      .select(col("m"), col("k"), col("pos").cast("long").as("dim"),
        col("col").as("value"))
      .orderBy("m", "k", "dim")
  }

  /** ADC search through the FITTED codebook — [[annPqAdc]] with
    * [[pqFit]]'s centroids in place of the pseudo-random constants: the
    * production form (FAISS trains PQ codebooks always; the fixed book
    * exists here to keep a literal-constant oracle in the family). The
    * collected codebook re-enters the plan as literals, so the probe is
    * the SAME narrow codes-only scan + broadcast ADC table + top-20 cut
    * + exact rerank — zero extra shuffles over the fixed tier; the fit
    * adds the subspace-Lloyd passes up front (paid per index build, not
    * per query batch). ANN_TRADEOFF measures what the training buys:
    * the fixed book's recall@5 is 0.000 at ×10 — the fitted book is the
    * accuracy rung that makes the PQ family usable. Fully hash-oracled:
    * the oracle refits the codebook in CTEs and replays codes, ADC
    * table and rerank; codes are cluster IDs so a dropped empty cluster
    * changes nothing on either side. */
  def annPqAdcFitted(spark: SparkSession, sfDir: String): DataFrame =
    pqAdcProbe(spark, sfDir, pqFitCodebookCached(spark, sfDir, "raw"))

  /** Product-quantization encoding: per subspace, the vector's nearest
    * codebook centroid by squared L2 (argmin ties broken toward the
    * smaller code — the coalesce-of-equality chain, identical in both
    * engines); codes pack into one 12-bit integer. This is the memory
    * side of IVF-PQ serving: a 64-float vector (256 bytes) becomes a
    * 12-bit code plus one shared codebook, so the 100 TB corpus's
    * re-rank index shuffles and stores ~170× less — the codebook is a
    * literal constant here and a broadcast table in production, never a
    * shuffle participant. Encoding is a pure narrow map (no shuffle at
    * all until the final diagnostic sort); distances fold left-to-right
    * per element, so every distance, argmin, and distortion is
    * bit-identical to the DuckDB mirror. */
  def pqEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val coded = pqCoded(base)
    coded.select(col("vec_id"),
        col("code0"), col("code1"), col("code2"), col("code3"),
        (col("code0") + col("code1") * 8 + col("code2") * 64 + col("code3") * 512)
          .as("pq_code"),
        (col("dist0") + col("dist1") + col("dist2") + col("dist3")).as("distortion"))
      .orderBy("vec_id")
  }

  /** Adds the query-side ADC distance table: all M×K subspace distances
    * as columns `t{m}_{k}`. Narrow map over the (tiny) query set. */
  private def pqAdcTable(df: DataFrame, vec: Column = col("embedding"),
      cb: Map[(Int, Int), Seq[Double]] = pqCbFixed,
      prefix: String = "t"): DataFrame =
    // one select, not a 32-column withColumn fold — the quadratic
    // re-analysis note on [[pqCoded]] applies verbatim (the refine tier
    // builds TWO of these tables back to back)
    df.select(col("*") +: (for (m <- 0 until PqM; k <- pqKs(cb, m))
        yield l2Fold(slice(vec, 1 + m * PqSub, PqSub),
          array(cb((m, k)).map(lit): _*)).as(s"$prefix${m}_$k")): _*)

  /** The ADC lookup-sum: M picks of the query's `t{m}_{k}` columns
    * selected by the corpus row's `code{m}` columns, left-associated. */
  private def pqAdcPick(cb: Map[(Int, Int), Seq[Double]] = pqCbFixed,
      codePrefix: String = "code", tPrefix: String = "t"): Column =
    (0 until PqM).map { m =>
      coalesce(pqKs(cb, m).map { k =>
        when(col(s"$codePrefix$m") === k, col(s"$tPrefix${m}_$k"))
      }: _*)
    }.reduce(_ + _)

  /** The refine score's cross term: Σ_m 2⟨c1(m, code_m), c2(m, rcode_m)⟩
    * — a pure literal lookup selected by the candidate's two code
    * columns, computed from the two (possibly fitted) books. */
  private def pqCrossPick(cb1: Map[(Int, Int), Seq[Double]],
      cb2: Map[(Int, Int), Seq[Double]]): Column =
    (0 until PqM).map { m =>
      coalesce((for (k <- pqKs(cb1, m); j <- pqKs(cb2, m)) yield
        when(col(s"code$m") === k && col(s"rcode$m") === j,
          lit(2.0 * cb1((m, k)).zip(cb2((m, j)))
            .map { case (x, y) => x * y }.sum))): _*)
    }.reduce(_ + _)

  /** Level-1 reconstruction ERROR of a coded frame: the full-dimension
    * `err` array `vec − decode1(code0..3)` — the vector the refine book
    * quantizes. Pure literal lookup + narrow map (the decode is the
    * codebook entry selected by each subspace's code). */
  private def pqReconErr(vec: Column,
      cb: Map[(Int, Int), Seq[Double]] = pqCbFixed): Column =
    concat((0 until PqM).map { m =>
      val recon = coalesce(pqKs(cb, m).map(k =>
        when(col(s"code$m") === k,
          array(cb((m, k)).map(lit): _*))): _*)
      zip_with(slice(vec, 1 + m * PqSub, PqSub), recon, (x, y) => x - y)
    }: _*)

  /** PQ asymmetric-distance (ADC) search — the probe that makes
    * [[pqEncode]]'s codes an index rather than a compression curiosity
    * (Jégou, Douze & Schmid 2011, §IV: keep the query full-precision,
    * score corpus vectors through their codes). Per query the M×K=32
    * subspace distances ‖q_sub − c_{m,k}‖² are computed ONCE (the "ADC
    * distance table", broadcast-sized: 32 doubles per query); a corpus
    * vector's approximate distance is then M table LOOKUPS selected by
    * its stored codes — no arithmetic against the original floats, so
    * at 100 TB the scan touches 12-bit codes (~170× less bandwidth than
    * float32) plus one tiny broadcast, and the only full-precision
    * reads are the ≤20 rerank candidates per query. Probe shape = the
    * [[annSq8]] / [[annBinarySign]] doctrine: ADC-score all candidates,
    * top-20 cut (adc asc, ties by id), exact-cosine rerank to top-5 —
    * the exact rerank keeps the output fully hash-oracled. The oracle
    * replays codes and table entries from the ONE shared distance
    * definition ([[sqlPqDist]]), so engine and oracle cannot diverge on
    * the codebook. */
  def annPqAdc(spark: SparkSession, sfDir: String): DataFrame =
    pqAdcProbe(spark, sfDir, pqCbFixed)

  /** The ADC probe over codebook `cb`, shared by the fixed and fitted
    * tiers: the corpus side keeps only its 12-bit codes (the dist
    * columns drop — the probe never reads corpus floats before the
    * rerank), the query side is the ADC table, and the probe cuts the
    * top 20 by ADC before the exact rerank to top 5. */
  private def pqAdcProbe(spark: SparkSession, sfDir: String,
      cb: Map[(Int, Int), Seq[Double]]): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
      .select("vec_id", "embedding", "nrm")
    annProbe(pqAdcTable(v.filter(col("vec_id") < 10), col("embedding"), cb),
      codeIndex(pqCoded(v, col("embedding"), cb)),
      Seq(Cut("adc", pqAdcPick(cb), ascending = true, 20)), depth = 5)
  }

  /** A coded frame cut to the codes index: ids, the exact payload the
    * rerank reads, `cell` when the frame has one, and the `code0..3`
    * columns of each of `prefixes`. */
  private def codeIndex(coded: DataFrame, prefixes: Seq[String] = Seq("code")): DataFrame =
    coded.select((Seq("vec_id", "embedding", "nrm") ++
      Seq("cell").filter(coded.columns.contains) ++
      prefixes.flatMap(p => (0 until PqM).map(m => s"$p$m"))).map(col): _*)

  /** IVF-PQ — the two tiers composed the way production serving stacks
    * compose them (Jégou-Douze-Schmid 2011 §V, the FAISS `IVFx,PQy`
    * default): the coarse quantizer ([[ivfCentroids]]/[[ivfAssign]],
    * shared verbatim with the IVF family) prunes the corpus to the
    * query's own cell, and inside the cell candidates are scored by PQ
    * ADC lookups instead of full-precision dots. At 100 TB this is THE
    * index shape: the at-rest layout is cell-partitioned 12-bit codes
    * (the [[annIvfPersist]] partitioning carrying [[pqEncode]] payloads
    * — ~170× less storage/scan than float32), a probe reads one
    * partition-pruned cell, scores it with M table lookups per code,
    * and touches full-precision floats only for the ≤10 rerank rows.
    * Codes quantize the RAW vectors, not cell residuals (the FAISS
    * `by_residual=false` variant) — residual encoding buys accuracy at
    * the cost of per-cell codebook reconstruction in the oracle; the
    * raw-vector form keeps ONE shared codebook and the output fully
    * hash-oracled. Probe depth: ADC top-10 inside the cell (ties by
    * id), exact-cosine rerank to top-3 — the IVF family's depth, and
    * the output carries `cell` like its siblings. */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
    // at-rest side: cell + 12-bit codes (floats retained only for the
    // rerank join — production reads them from the exact-payload tier)
    ivfPqProbeCodes(codeIndex(pqCoded(ivfAssign(v, ivfCentroids(spark, v)))))
  }

  /** The IVF-residual view shared by the residual tiers: corpus assigned
    * to cells with `res = embedding − cell centroid` as DOUBLES (each
    * float widens exactly; a float-typed difference would round where
    * the oracle's double-list difference does not). One definition so
    * the fixed-book probe, the fitted-book probe and the residual
    * `pq_train` input cannot diverge on what a residual is. */
  private def ivfResiduals(spark: SparkSession, sfDir: String): DataFrame = {
    val v = withNorm(Tables.embeddings(spark, sfDir))
    val cents = ivfCentroids(spark, v)
    ivfAssign(v, cents)
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("ce"))), "cell")
      .withColumn("res", residual(col("embedding"), col("ce")))
  }

  /** `vec − origin` as DOUBLES, element by element. */
  private def residual(vec: Column, origin: Column): Column =
    zip_with(vec, origin, (x, y) => x.cast("double") - y.cast("double"))

  /** Residual IVF-PQ — [[annIvfPq]] with codes quantizing the RESIDUAL
    * `embedding − cell centroid` instead of the raw vector: the FAISS
    * `by_residual=true` DEFAULT, and the accuracy move production
    * indexes actually ship (after coarse assignment the residuals of a
    * cell live in a ball around the origin, so the shared codebook's
    * resolution is spent on the ~1/|cells|-sized spread that remains,
    * not on re-describing the centroid the cell id already encodes —
    * Jégou-Douze-Schmid 2011 §V.A). The probe stays single-cell, which
    * is what keeps residual ADC well-defined here: query and candidates
    * share ONE cell, so the query's ADC table (computed from ITS
    * residual wrt that cell) and the candidates' stored residual codes
    * approximate ‖q − x‖² = ‖r_q − r_x‖² against the same origin. A
    * multi-cell probe recomputes the query table per probed cell — M×K
    * extra doubles per (query, cell), still broadcast-sized.
    *
    * Residuals subtract as DOUBLES (each float widens exactly; the
    * float-typed difference would round where the oracle's
    * double-list difference does not), then feed the SAME shared
    * subspace-distance definition as the raw-vector tiers
    * ([[pqSubDistOn]]); the oracle splices the IVF assignment CTEs, a
    * one-line residual CTE and the PQ code CTEs verbatim, so the
    * composition cannot drift from its parts. Same depths and at-rest
    * story as [[annIvfPq]]: cell-partitioned 12-bit codes, floats only
    * for the ≤10 rerank rows. */
  def annIvfPqResidual(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqResidualProbe(spark, sfDir, pqCbFixed)

  /** The single-cell residual probe over codebook `cb`, shared by the
    * fixed and fitted residual tiers: corpus codes and the query's ADC
    * table both come from residuals against the one cell they share,
    * ADC top-10 inside the cell, exact rerank to top 3. */
  private def ivfPqResidualProbe(spark: SparkSession, sfDir: String,
      cb: Map[(Int, Int), Seq[Double]]): DataFrame = {
    val withRes = ivfResiduals(spark, sfDir)
    annProbe(pqAdcTable(withRes.filter(col("vec_id") < 10), col("res"), cb),
      codeIndex(pqCoded(withRes, col("res"), cb)),
      Seq(Cut("adc", pqAdcPick(cb), ascending = true, 10)), depth = 3)
  }

  /** FITTED-residual IVF-PQ — [[annIvfPqResidual]] with the codebook
    * TRAINED on the residuals instead of the fixed pseudo-random book:
    * the production FAISS default in full (`by_residual=true` with a
    * trained quantizer — Jégou-Douze-Schmid 2011 §V.A), and the
    * composition the r15 tradeoff table showed the ladder was missing:
    * the fixed book's recall@5 measured 0.000 at ×10 and training is
    * what buys it back, so the flagship composed tier must train on the
    * SAME vectors it encodes — the residuals, whose in-cell spread is
    * exactly what the book's 8 centroids per subspace should describe.
    *
    * Construction: [[ivfResiduals]] (the one residual definition) →
    * [[pqFit]] on the residual view (same tie-free 2⁻²⁰ floor-grid
    * mean, deterministic init — the `pq_train` residual-input mode) →
    * the collected vocabulary-sized book re-enters the plan as literals
    * → the residual tier's probe verbatim ([[pqCoded]]/[[pqAdcTable]]/
    * [[pqAdcPick]] parameterized by the fitted book). Serving is
    * therefore the SAME narrow codes-only scan + broadcast ADC table as
    * the fixed tier — zero extra shuffles per query batch; the
    * subspace-Lloyd passes are paid once per index build. Fully
    * hash-oracled: the oracle splices the IVF assignment CTEs, the
    * residual CTE and the residual-input fit CTEs verbatim, then codes
    * corpus and query tables from ONE `dist` relation (the
    * `ann_pq_adc_fitted` doctrine) with the cell constraint fused into
    * the pair join. */
  def annIvfPqFitted(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqResidualProbe(spark, sfDir, pqFitCodebookCached(spark, sfDir, "residual"))

  /** REFINED IVF-PQ — the re-ranking rung of the family (Jégou,
    * Tavenard, Douze, Amsaleg 2011, "Searching in one billion vectors:
    * re-rank with source coding" — the FAISS `IVFPQR` index, here with
    * BOTH books trained, the production form): the measured remedy for
    * the 12-bit tiers' ordering collapse at scale (ANN_TRADEOFF
    * in_cell_x10 0.067 — a 4×3-bit code cannot order a ~320-vector
    * cell). A SECOND 12-bit code per vector quantizes the level-1
    * reconstruction ERROR (`res − decode1(codes)`) against a refine
    * book subspace-Lloyd-FIT on exactly those errors (the
    * [[pqFitCodebookCached]] `refine` mode — one fit per corpus per
    * session, like its level-1 input book), doubling the at-rest code
    * budget to 24 bits while keeping every scan codes-only. Probe =
    * three stages, each reading less and judging better: (1) level-1
    * ADC over the whole cell → top-160 survivors (the FAISS `k_factor`
    * fanout — the refined re-score is float-free, so a DEEP stage-1 is
    * nearly free, and it has to be deep: the level-1 ADC order alone is
    * the thing being repaired); (2) REFINED distance — ‖q − c1 − c2‖²
    * up to the per-query constant, a pure LOOKUP sum (the two query
    * tables + the 64-entry cross table 2⟨c1,c2⟩; no floats touched) →
    * top-10; (3) exact-cosine rerank to top-3 (floats for ≤10 rows, the
    * family tail). MEASURED at ×10 (ANN_TRADEOFF r17): in-cell recall
    * 0.300 vs 0.067 for every single-code tier — the code-budget
    * remedy, measured. Fully hash-oracled: both fit chains, codes,
    * error decode, tables, cross relation and both cuts replay in
    * DuckDB relationally (the fitted-book doctrine). Non-vacuity is
    * spec-pinned from distortion: the two-level reconstruction must
    * beat level-1 alone on the fixture. */
  def annIvfPqRefine(spark: SparkSession, sfDir: String): DataFrame = {
    val withRes = ivfResiduals(spark, sfDir)
    val cb1 = pqFitCodebookCached(spark, sfDir, "residual")
    val cb2 = pqFitCodebookCached(spark, sfDir, "refine")
    val l1 = pqCoded(withRes, col("res"), cb1)
    val corpus = codeIndex(pqCoded(l1.withColumn("err", pqReconErr(col("res"), cb1)),
      col("err"), cb2, prefix = "rcode"), Seq("code", "rcode"))
    val q = pqAdcTable(
      pqAdcTable(withRes.filter(col("vec_id") < 10), col("res"), cb1),
      col("res"), cb2, prefix = "u")
    annProbe(q, corpus, Seq(
      Cut("adc", pqAdcPick(cb1), ascending = true, 160),
      Cut("refined",
        pqAdcPick(cb1) + pqAdcPick(cb2, "rcode", "u") + pqCrossPick(cb1, cb2),
        ascending = true, 10)), depth = 3)
  }

  /** The refined tier's own recall gate. */
  def annRecallIvfPqRefine(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annIvfPqRefine(spark, sfDir), depth = 3)

  /** Spec hook: total level-1 vs two-level reconstruction distortion on
    * the corpus — the refinement's non-vacuity witness (‖res − c1‖² vs
    * ‖res − c1 − c2‖², summed; the second book must actually explain
    * part of the error it was pointed at). */
  private[graft] def refineDistortions(
      spark: SparkSession, sfDir: String): (Double, Double) = {
    val cb1 = pqFitCodebookCached(spark, sfDir, "residual")
    val cb2 = pqFitCodebookCached(spark, sfDir, "refine")
    val withErr = pqCoded(ivfResiduals(spark, sfDir), col("res"), cb1)
      .withColumn("err", pqReconErr(col("res"), cb1))
    val r = pqCoded(withErr, col("err"), cb2, prefix = "rcode")
      .agg(
        sum(col("dist0") + col("dist1") + col("dist2") + col("dist3")),
        sum(col("rcode_dist0") + col("rcode_dist1") +
          col("rcode_dist2") + col("rcode_dist3")))
      .collect()(0)
    (r.getDouble(0), r.getDouble(1))
  }

  /** nprobe-COMPOSED fitted-residual IVF-PQ — the full FAISS serving
    * default assembled (`nprobe × by_residual=true × trained book`), and
    * the r16 verdict #4 directive: ANN_TRADEOFF measured the coarse
    * quantizer's single-cell cut capping EVERY one-cell tier's global
    * recall at 0.133 while `ann_ivf_nprobe` buys 0.200 — this applies
    * that measured lever to the production PQ serving tier. A query
    * probes its [[graft.GraftConf.annNprobe]] nearest cells; because
    * codes quantize RESIDUALS, the query-side ADC table is per
    * (query, probed cell) — the MULTI-ORIGIN form: the query's residual
    * is recomputed against each probed cell's centroid, so each cell's
    * stored codes are compared against a table sharing their origin and
    * every ADC value approximates the same ‖q − x‖² (which is what makes
    * the cross-cell candidate cut well-defined). The ADC candidate
    * budget scales with the probe width (10·nprobe — the FAISS
    * convention of deepening the rerank as nprobe grows). Candidates
    * from the probed cells union WITHOUT dedup — a corpus vector lives
    * in exactly one cell. Cost at 100 TB: nprobe partition-pruned cell
    * scans per query and nprobe M×K-double query tables instead of one —
    * still broadcast-sized; the index at rest is unchanged. nprobe=1
    * degenerates EXACTLY to [[annIvfPqFitted]] (the assign's argmax IS
    * the top-1 probe — spec-pinned). Fully hash-oracled: the oracle
    * splices the IVF/residual/fit CTEs verbatim and adds the windowed
    * top-nprobe cell cut with a per-cell residual, the [[sqlIvfNprobe]]
    * doctrine lifted to the multi-origin query table. */
  def annIvfPqNprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val nprobe = graft.GraftConf.annNprobe(spark)
    val v = withNorm(Tables.embeddings(spark, sfDir))
    val cb = pqFitCodebookCached(spark, sfDir, "residual")
    // query side: top-nprobe cells, each with the query's residual wrt
    // THAT cell's centroid (the multi-origin table), then the ADC table
    // from the per-cell residual — ≤ |queries|·nprobe broadcast rows
    val q = pqAdcTable(ivfTopCells(v, ivfCentroids(spark, v), nprobe)
      .withColumn("qres", residual(col("embedding"), col("ce"))), col("qres"), cb)
    // candidate budget scales WITH the probe width (10 ADC survivors per
    // probed cell — the FAISS convention of deepening the rerank as
    // nprobe grows): a fixed cut would make extra cells pure noise
    // competition for the same 10 slots, and the measured ×10 in-cell
    // ADC ordering is weak enough (ANN_TRADEOFF in_cell_x10 0.067) that
    // the exact rerank, not the ADC order, must do the final selection.
    // nprobe=1 keeps cut 10 — the exact ann_ivfpq_fitted degeneration.
    annProbe(q, codeIndex(pqCoded(ivfResiduals(spark, sfDir), col("res"), cb)),
      Seq(Cut("adc", pqAdcPick(cb), ascending = true, 10 * nprobe)), depth = 3)
  }

  /** The nprobe-composed tier's own recall gate — the production
    * serving stack measured by the same in-engine protocol as its
    * single-cell siblings. */
  def annRecallIvfPqNprobe(spark: SparkSession, sfDir: String): DataFrame =
    recallEvalOf(spark, sfDir, annIvfPqNprobe(spark, sfDir), depth = 3)

  // --- Scalar-quantized (int8) ANN -----------------------------------------

  /** Per-element int8 quantizer: clamp to [-1, 1], scale by 127, round
    * half-up via `floor(x·127 + 0.5)` — spelled with floor (not `round`)
    * so Spark and DuckDB share ONE rounding definition. The result stays
    * an ARRAY<DOUBLE> of integral values: the dot-product arithmetic is
    * then exact integer math inside the double mantissa (|q| ≤ 127, 64
    * dims → |dot| ≤ 127²·64 ≈ 2²⁰ ≪ 2⁵³), so the oracle compare is
    * bit-exact. The PRODUCTION layout packs these into 64-byte binary —
    * 4× less scan bandwidth and cache than float32 — but the integral
    * doubles here keep the whole path inside the codegen'd
    * [[graft.functions.DotProduct]] kernel and the SQL oracle. */
  private def sq8(c: Column): Column =
    transform(c, x =>
      // Spark's floor() yields BIGINT — cast back to DOUBLE so the array
      // element type matches DotProduct's float/double contract (and
      // DuckDB's floor, which is already DOUBLE)
      floor(greatest(lit(-1.0), least(lit(1.0), x.cast("double"))) * 127.0 + 0.5)
        .cast("double"))

  /** Scalar-quantized ANN with exact rerank — the third index tier next
    * to LSH and IVF, and the one production vector stores reach for
    * first (int8 SQ is FAISS's `SQ8` / Lucene's `int8_hnsw` default):
    * score ALL candidates with the cheap int8 dot product (4× less
    * memory traffic than float32, exact integer compares), keep the
    * top-20 per query, then rerank only those 20 with full-precision
    * cosine and emit the top-5.
    *
    * Scale shape: identical join/window skeleton to [[annTopkBrute]] —
    * broadcast the 10 query rows, one narrow shuffle for the per-query
    * window top-k, never a global sort — but at 100 TB the scored column
    * scan moves 4× fewer bytes and the full-precision vectors are only
    * touched for 20 rows per query (late materialization: the rerank
    * carries the float embedding through the candidate cut rather than
    * re-joining the corpus). Quantization error changes WHICH candidates
    * make the int8 cut (recall, spec-measured vs the brute-force truth)
    * but the emitted cosines are exact full-precision values.
    *
    * Fully oracled: quantization, candidate cut, and rerank are all
    * deterministic closed-form expressions restated in DuckDB list
    * algebra. */
  def annSq8(spark: SparkSession, sfDir: String): DataFrame =
    sq8Probe(sq8Table(spark, sfDir))

  /** The SQ8 index TABLE: quantized codes + full-precision vectors +
    * norms — what [[annSq8]] computes inline and [[annSq8Persist]]
    * writes at rest. */
  private def sq8Table(spark: SparkSession, sfDir: String): DataFrame =
    withNorm(Tables.embeddings(spark, sfDir))
      .withColumn("q8", sq8(col("embedding")))
      .select("vec_id", "embedding", "nrm", "q8")

  /** Cheap corpus fingerprint folded into at-rest index cache keys
    * (row count + max vec_id): invalidates a warm index when the
    * embeddings fixture under the same sfDir is regenerated — a
    * bench-only run has no verify gate to catch stale reuse (ADVICE
    * r13; shared by [[annIvfPersist]] and [[annSq8Persist]]). */
  private def embCorpusFp(spark: SparkSession, sfDir: String): String = {
    val r = Tables.embeddings(spark, sfDir)
      .agg(count(lit(1)).as("n"), max("vec_id").as("mx")).collect()(0)
    s"n${r.getLong(0)}x${r.getLong(1)}"
  }

  /** The at-rest codes index directory, built once per (quantizer conf,
    * corpus fingerprint) — shared by the single-cell and nprobe probes
    * so both read the SAME physical index. */
  private def ivfPqIndexDir(spark: SparkSession, sfDir: String): String = {
    val mod = graft.GraftConf.annCentroidMod(spark)
    val fp = embCorpusFp(spark, sfDir)
    FileOps.materializeOnce(spark, s"ivfpq_index_m${mod}_$fp", sfDir) { d =>
      val v = withNorm(Tables.embeddings(spark, sfDir))
      codeIndex(pqCoded(ivfAssign(v, ivfCentroids(spark, v))))
        .write.mode("overwrite").partitionBy("cell").parquet(d)
    }
  }

  /** IVF-PQ index PERSISTENCE — the at-rest form of THE 100 TB index
    * shape the IVF-PQ scaladocs name: cell-partitioned parquet whose
    * payload is the 12-bit codes (plus the exact floats/norms standing
    * in for the exact-payload tier the ≤10-row rerank reads — in
    * production that tier is a separate colocated table). Build is paid
    * ONCE per ingest ([[FileOps.materializeOnce]] keyed by quantizer
    * conf + corpus fingerprint, the [[annIvfPersist]] doctrine); a
    * probe then reads one partition-pruned cell directory and scores it
    * with M ADC lookups per stored code — scan bytes per probe are the
    * cell's codes, not the corpus's floats. Probe is bit-identical to
    * [[annIvfPq]] (floats/norms/codes round-trip parquet exactly; the
    * query-side ADC table rebuilds from the stored raw vector), so the
    * SAME DuckDB oracle gates both and the spec pins bit-equality. */
  def annIvfPqPersist(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqProbeCodes(readCellIndex(spark, ivfPqIndexDir(spark, sfDir)))

  /** A cell-partitioned index read back from `dir`. Partition-column
    * type inference reads `cell` back as INT; the cast restores the
    * index schema, so a persisted probe is bit-identical to its inline
    * twin at the SCHEMA level too (repro'd on Spark 4.1.2). */
  private def readCellIndex(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).withColumn("cell", col("cell").cast("long"))

  /** nprobe probe of the AT-REST codes index — the two flagship
    * directions composed end-to-end: [[annIvfPqPersist]]'s
    * cell-partitioned 12-bit index (built once, SHARED physically with
    * the single-cell probe — same `materializeOnce` key) probed at
    * [[graft.GraftConf.annNprobe]] cells per query, so the scan reads
    * nprobe partition-pruned cell DIRECTORIES per query batch via
    * dynamic partition pruning (plan-pinned) — the literal 100 TB
    * serving shape: index at rest, recall bought per query by reading
    * more cells, corpus floats never scanned. Codes here quantize RAW
    * vectors (the index's `by_residual=false` layout), which is what
    * makes the multi-cell probe need NO multi-origin machinery: the
    * query's ADC table depends only on its own vector, one table serves
    * every probed cell. Candidate budget 10·nprobe (the [[annIvfPqNprobe]]
    * convention), exact rerank to top-3; nprobe=1 degenerates EXACTLY
    * to [[annIvfPqPersist]] (the assign's argmax is the top-1 ranked
    * cell and the cut is 10 — spec-pinned). Fully hash-oracled: the
    * shared assignment/code CTEs + [[sqlIvfNprobe]]'s windowed
    * top-nprobe cell cut. */
  def annIvfPqPersistNprobe(spark: SparkSession, sfDir: String): DataFrame = {
    val nprobe = graft.GraftConf.annNprobe(spark)
    val corpus = readCellIndex(spark, ivfPqIndexDir(spark, sfDir))
    val v = withNorm(Tables.embeddings(spark, sfDir))
    annProbe(pqAdcTable(ivfTopCells(v, ivfCentroids(spark, v), nprobe)), corpus,
      Seq(Cut("adc", pqAdcPick(), ascending = true, 10 * nprobe)), depth = 3)
  }

  /** Probe an IVF-PQ codes table (vec_id, embedding, nrm, cell,
    * code0..3) — identical no matter whether the codes were just
    * encoded, read back from the at-rest index, or maintained by a
    * stream (the [[ivfProbeCells]] convention lifted to the PQ tier):
    * queries are the indexed vectors with vec_id < 10, in-cell ADC
    * top-10 cut, exact rerank to top-3. */
  private[graft] def ivfPqProbeCodes(corpus: DataFrame): DataFrame =
    annProbe(pqAdcTable(corpus.select("vec_id", "embedding", "nrm", "cell")
        .filter(col("vec_id") < 10)), corpus,
      Seq(Cut("adc", pqAdcPick(), ascending = true, 10)), depth = 3)

  /** SQ8 index PERSISTENCE — the at-rest form of the tier the tradeoff
    * table (ANN_TRADEOFF*.json) shows holding recall 1.0 at ~1.2× brute
    * cost at both measured scales: the quantized codes are written ONCE
    * and probed from parquet, so the per-query-batch scan reads the
    * 4×-smaller q8 column off disk and the full-precision vectors are
    * late-materialized for the 20-deep rerank only. Unlike the IVF
    * at-rest index there is no partition pruning to buy (SQ8 scans every
    * candidate by design — its win is bandwidth, not selectivity), so
    * the layout is plain parquet; columnar projection is the mechanism.
    * Probe is IDENTICAL to [[annSq8]] (float arrays, norms and integral
    * q8 doubles round-trip parquet exactly), so the SAME DuckDB oracle
    * gates both and the spec pins bit-equality. */
  def annSq8Persist(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = embCorpusFp(spark, sfDir)
    val dir = FileOps.materializeOnce(spark, s"sq8_index_$fp", sfDir) { d =>
      sq8Table(spark, sfDir).write.mode("overwrite").parquet(d)
    }
    sq8Probe(spark.read.parquet(dir))
  }

  /** Probe half of the SQ8 tier: int8-score all candidates, top-20 cut,
    * full-precision rerank, top-5 — over an index table from
    * [[sq8Table]] or its parquet round-trip. */
  private def sq8Probe(v: DataFrame): DataFrame =
    annProbe(v.filter(col("vec_id") < 10).withColumnRenamed("q8", "qq8"), v,
      Seq(Cut("q8score", dot(col("qq8"), col("q8")), ascending = false, 20)), depth = 5)

  /** BINARY (sign) quantization ANN — the 1-bit-per-dimension rung below
    * [[annSq8]] on the precision/bandwidth ladder (the "binary embedding"
    * tier production vector stores ship for the first-pass cut): bit_j =
    * (x_j > 0), so the fixture's 64-dim vectors pack into ONE long — a
    * 256× smaller scan payload than float32 — and candidate scoring is a
    * single xor+bit_count per pair (the packed-hamming machinery the
    * image near-dup tiers use). Probe shape = the [[annSq8]] doctrine:
    * hamming-score ALL candidates (the cheap pass), top-20 cut (ties by
    * id), full-precision cosine rerank to top-5 — so the tier's recall
    * is whatever survives the 20-deep cut, and the exact rerank makes
    * the output fully hash-oracled (the SQL replays hamming as the
    * count of sign-disagreeing dimensions — same integer, no packing
    * needed oracle-side).
    *
    * Dim contract: ≤ 64 dimensions pack exactly (the fixture's 64);
    * wider embeddings take the multi-word form the 256-bit phash tier
    * already ships ([[graft.ops.MultiModalOps.mmImageNeardupMi]]'s
    * 4-long layout) — same fold, array of words. */
  def annBinarySign(spark: SparkSession, sfDir: String): DataFrame = {
    // MSB-first fold: (acc << 1) | (x > 0) — bitwise, because an
    // arithmetic acc·2 ANSI-overflows on the 64th dimension when the
    // first bit is set; replayed dimension-count-exact by the oracle's
    // sign-disagreement filter
    val signCode = aggregate(col("embedding"), lit(0L),
      (acc, x) => shiftleft(acc, 1)
        .bitwiseOR(when(x > lit(0.0f), 1L).otherwise(0L)))
    val v = withNorm(Tables.embeddings(spark, sfDir))
      .withColumn("bcode", signCode)
      .select("vec_id", "embedding", "nrm", "bcode")
    annProbe(v.filter(col("vec_id") < 10).withColumnRenamed("bcode", "qb"), v,
      Seq(Cut("hd", bit_count(col("qb").bitwiseXOR(col("bcode"))), ascending = true, 20)),
      depth = 5)
  }

  val queries: Map[String, Q] = Map(
    "ann_binary_sign"      -> (annBinarySign _),
    "ann_sq8"              -> (annSq8 _),
    "embed_knn_classify"   -> (embedKnnClassify _),
    "embed_top_pairs"      -> (embedTopPairs _),
    "embed_outlier_knn"    -> (embedOutlierKnn _),
    "ann_topk_brute"       -> (annTopkBrute _),
    "ann_lsh_bucket"       -> (annLshBucket _),
    "ann_lsh_multiprobe"   -> (annLshMultiprobe _),
    "embed_dedup_clusters" -> (embedDedupClusters _),
    "dedup_semantic"       -> (dedupSemantic _),
    "ann_ivf_probe"        -> (annIvfProbe _),
    "ann_ivf_nprobe"       -> (annIvfNprobe _),
    "ann_recall_eval"      -> (annRecallEval _),
    "ann_recall_nprobe"    -> (annRecallNprobe _),
    "ann_recall_sq8"       -> (annRecallSq8 _),
    "ann_recall_binary"    -> (annRecallBinary _),
    "ann_recall_pq_fitted" -> (annRecallPqFitted _),
    "ann_recall_ivfpq"     -> (annRecallIvfPq _),
    "ann_recall_ivfpq_fitted" -> (annRecallIvfPqFitted _),
    "embed_lr_probe"       -> (embedLrProbe _),
    "embed_lr_converged"   -> (embedLrConverged _),
    "hard_negatives"       -> (hardNegatives _),
    "ann_ivf_persist"      -> (annIvfPersist _),
    "ann_ivfpq_persist"    -> (annIvfPqPersist _),
    "ann_ivfpq_persist_nprobe" -> (annIvfPqPersistNprobe _),
    "ann_sq8_persist"      -> (annSq8Persist _),
    "ann_ivf_kmeans"       -> (annIvfKmeans _),
    "pq_encode"            -> (pqEncode _),
    "ann_pq_adc"           -> (annPqAdc _),
    "pq_train"             -> (pqTrain _),
    "ann_pq_adc_fitted"    -> (annPqAdcFitted _),
    "ann_ivfpq"            -> (annIvfPq _),
    "ann_ivfpq_residual"   -> (annIvfPqResidual _),
    "ann_ivfpq_fitted"     -> (annIvfPqFitted _),
    "ann_ivfpq_nprobe"     -> (annIvfPqNprobe _),
    "ann_recall_ivfpq_nprobe" -> (annRecallIvfPqNprobe _),
    "ann_ivfpq_refine"     -> (annIvfPqRefine _),
    "ann_recall_ivfpq_refine" -> (annRecallIvfPqRefine _),
    "mmr_rerank"           -> (mmrRerank _))

  private def sqlPlaneList(j: Int): String =
    planes(DefaultPlanes)(j)
      .map(x => if (x == x.floor) s"${x.toLong}.0" else x.toString).mkString("[", ", ", "]")

  /** Bucket expression shared by the ann_lsh_bucket oracle (default
    * geometry — the same constants the Spark side folds over). */
  private val sqlBucket: String =
    (0 until DefaultPlanes).map { j =>
      s"(CASE WHEN ${sqlDot("d", sqlPlaneList(j))} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Shared CTE prefix: vectors → norms → signature buckets (the SQL
    * mirror of [[bucketVecs]] at the default geometry). */
  private val sqlBkCtes: String =
    s"""v AS ($sqlVec),
       |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
       |bk AS (SELECT vec_id, d, nrm, $sqlBucket AS bucket FROM n)""".stripMargin

  /** One Lloyd round as SQL CTEs: `cents` → assignment by squared
    * distance (same (dist², cent_id) lexicographic argmin as the Spark
    * `min(struct(...))`) → per-(cell, dim) decimal-exact mean → `out`.
    * The [[kmeansFit]] loop with iters=2 unrolls to two of these. */
  private def sqlLloydIter(cents: String, out: String): String =
    s"""cn_$out AS (SELECT cent_id, ce, ${sqlDot("ce", "ce")} AS cn FROM $cents),
       |asg_$out AS (
       |  SELECT vec_id, d, cell FROM (
       |    SELECT n.vec_id, n.d, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY (n.nrm + c.cn - 2.0 * ${sqlDot("n.d", "c.ce")}) ASC,
       |                 c.cent_id ASC) AS rk
       |    FROM n CROSS JOIN cn_$out c) t WHERE rk = 1),
       |pd_$out AS (SELECT cell, t.pos, d[t.pos] AS val
       |  FROM asg_$out, unnest(range(1, len(d) + 1)) AS t(pos)),
       |$out AS (
       |  SELECT cell AS cent_id, list(mean ORDER BY pos) AS ce FROM (
       |    SELECT cell, pos,
       |      CAST(sum(CAST(floor(val * CAST(1048576 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
       |        / CAST(1048576 AS DOUBLE) / count(*) AS mean
       |    FROM pd_$out GROUP BY cell, pos) m GROUP BY cell)""".stripMargin

  private def sqlPqCentList(m: Int, k: Int): String =
    pqCent(m, k).map(x => if (x == x.floor) s"${x.toLong}.0" else x.toString)
      .mkString("[", ", ", "]")

  /** Squared-L2 distance of subspace m against codebook entry k — the
    * same left-to-right element fold the Spark `aggregate` performs. */
  private def sqlPqDist(m: Int, k: Int): String =
    s"list_sum(list_transform(list_zip(d[${1 + m * PqSub}:${(m + 1) * PqSub}], " +
      s"${sqlPqCentList(m, k)}), z -> (z[1] - z[2]) * (z[1] - z[2])))"

  /** Shared CTE chain `s` (per-vector M×K subspace distances — corpus
    * encoding input AND query-side ADC table, one definition) → `m`
    * (per-subspace minima) → `cd` (codes + distortion), built over any
    * source CTE exposing (vec_id, d): `v` for the raw-vector tiers,
    * `resid` for the residual tier. */
  private def sqlPqCdCtesFrom(src: String): String = {
    val distCols = (for (m <- 0 until PqM; k <- 0 until PqK)
      yield s"${sqlPqDist(m, k)} AS d${m}_$k").mkString(",\n    ")
    val minCols = (0 until PqM).map(m =>
      s"LEAST(${(0 until PqK).map(k => s"d${m}_$k").mkString(", ")}) AS mn$m")
      .mkString(",\n    ")
    val codeCols = (0 until PqM).map { m =>
      val cases = (0 until PqK).map(k =>
        s"CASE WHEN d${m}_$k = mn$m THEN CAST($k AS BIGINT) END").mkString(", ")
      s"coalesce($cases) AS code$m"
    }.mkString(",\n    ")
    s"""s AS (SELECT vec_id,
       |    $distCols
       |  FROM $src),
       |m AS (SELECT *,
       |    $minCols
       |  FROM s),
       |cd AS (SELECT vec_id,
       |    $codeCols,
       |    mn0 + mn1 + mn2 + mn3 AS distortion
       |  FROM m)""".stripMargin
  }
  private val sqlPqCdCtes: String = sqlPqCdCtesFrom("v")

  /** One subspace-Lloyd round of the PQ fit: assign every (vec_id, m)
    * subvector to its argmin centroid of `$prev` (ties to the smaller
    * code — the min(struct) order), then per-(m, k, dim) exact-decimal
    * mean. The [[sqlLloydIter]] doctrine applied per subspace. */
  private def sqlPqLloydIter(prev: String, out: String,
      subsName: String = "subs"): String =
    s"""asg_$out AS MATERIALIZED (
       |  SELECT vec_id, m, sub, k FROM (
       |    SELECT s.vec_id, s.m, s.sub, c.k,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY list_sum(list_transform(list_zip(s.sub, c.ce),
       |                   z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC,
       |                 c.k ASC) AS rk
       |    FROM $subsName s JOIN $prev c ON c.m = s.m) t WHERE rk = 1),
       |pd_$out AS (SELECT m, k, t.pos, sub[t.pos] AS val
       |  FROM asg_$out, unnest(range(1, len(sub) + 1)) AS t(pos)),
       |$out AS MATERIALIZED (
       |  SELECT m, k, list(mean ORDER BY pos) AS ce FROM (
       |    SELECT m, k, pos,
       |      CAST(sum(CAST(floor(val * CAST(1048576 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
       |        / CAST(1048576 AS DOUBLE) / count(*) AS mean
       |    FROM pd_$out GROUP BY m, k, pos) x GROUP BY m, k)""".stripMargin

  /** Shared fit prefix: the per-subspace training view + deterministic
    * init (centroid k of subspace m = vec_id k's m-th subvector) + both
    * Lloyd rounds → `cb2`, built over any source CTE exposing
    * (vec_id, d): `v` for the raw fit, `resid` for the residual-input
    * mode the fitted-residual tier trains in. */
  // `subs` and the final book are referenced by several downstream CTEs;
  // DuckDB 1.0 re-executes a CTE per reference unless MATERIALIZED, and
  // the fit chain is the expensive subtree — without the hint the refine
  // oracle's two chains replay ~10× at sf0.1 (minutes instead of
  // seconds). Pure execution hint: results are unchanged.
  private def sqlPqFitCtesFrom(src: String, sfx: String = ""): String =
    s"""subs$sfx AS MATERIALIZED (
       |  SELECT vec_id, mm.m,
       |    list_slice(d, 1 + mm.m * $PqSub, (mm.m + 1) * $PqSub) AS sub
       |  FROM $src CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) mm),
       |cb0$sfx AS (SELECT m, CAST(vec_id AS INT) AS k, sub AS ce
       |        FROM subs$sfx WHERE vec_id < $PqK),
       |${sqlPqLloydIter(s"cb0$sfx", s"cb1$sfx", s"subs$sfx")},
       |${sqlPqLloydIter(s"cb1$sfx", s"cb2$sfx", s"subs$sfx")}""".stripMargin

  private lazy val sqlPqFitCtes: String = sqlPqFitCtesFrom("v")

  private lazy val sqlPqTrain: String =
    s"""WITH v AS ($sqlVec),
       |$sqlPqFitCtes
       |SELECT CAST(m AS BIGINT) AS m, CAST(k AS BIGINT) AS k,
       |  CAST(t.pos - 1 AS BIGINT) AS dim, ce[t.pos] AS value
       |FROM cb2, unnest(range(1, len(ce) + 1)) AS t(pos)
       |ORDER BY m, k, dim""".stripMargin

  /** Fitted-ADC replay: refit the codebook (the shared CTEs), code the
    * corpus and build the query tables from ONE `dist` relation, then
    * the fixed tier's probe tail (top-20 adc cut, exact rerank to 5).
    * The per-pair adc sums in the SAME left-to-right m-order as the
    * engine's `t0 + t1 + t2 + t3` pick (each conditional SUM collapses
    * to the single matching dist2). */
  private lazy val sqlPqAdcFitted: String =
    s"""WITH v AS ($sqlVec),
       |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
       |$sqlPqFitCtes,
       |dist AS (
       |  SELECT s.vec_id, s.m, c.k,
       |    list_sum(list_transform(list_zip(s.sub, c.ce),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist2
       |  FROM subs s JOIN cb2 c ON c.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist2 ASC, k ASC) AS rk
       |    FROM dist) t WHERE rk = 1),
       |qt AS (SELECT vec_id AS query_id, m, k, dist2 FROM dist WHERE vec_id < 10),
       |pair AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id, c.m, q.dist2
       |  FROM codes c
       |  JOIN qt q ON q.m = c.m AND q.k = c.code AND c.vec_id <> q.query_id),
       |adc AS (
       |  SELECT query_id, neighbor_id,
       |    SUM(CASE WHEN m = 0 THEN dist2 END)
       |      + SUM(CASE WHEN m = 1 THEN dist2 END)
       |      + SUM(CASE WHEN m = 2 THEN dist2 END)
       |      + SUM(CASE WHEN m = 3 THEN dist2 END) AS adc
       |  FROM pair GROUP BY query_id, neighbor_id),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc ASC, neighbor_id ASC) AS crnk
       |    FROM adc) t WHERE crnk <= 20),
       |cs AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
       |  FROM cand c
       |  JOIN n nq ON nq.vec_id = c.query_id
       |  JOIN n nx ON nx.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cs)
       |SELECT query_id, rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  private val sqlPqEncode: String =
    s"""WITH v AS ($sqlVec),
       |$sqlPqCdCtes
       |SELECT vec_id, code0, code1, code2, code3,
       |  code0 + code1 * 8 + code2 * 64 + code3 * 512 AS pq_code, distortion
       |FROM cd ORDER BY vec_id""".stripMargin

  /** ADC replay: approximate distance = M lookups of the QUERY's own
    * subspace-distance columns (CTE `s`) selected by the CORPUS row's
    * codes (CTE `cd`) — left-associated sum, the Spark reduce's order;
    * exact cosine only for the 20 survivors, like the engine. */
  private val sqlPqAdc: String = {
    val adcSum = (0 until PqM).map { m =>
      "(CASE " + (0 until PqK).map(k =>
        s"WHEN x.code$m = $k THEN q.d${m}_$k").mkString(" ") + " END)"
    }.mkString(" + ")
    s"""WITH v AS ($sqlVec),
       |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
       |$sqlPqCdCtes,
       |scored AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |    $adcSum AS adc
       |  FROM s q JOIN cd x ON q.vec_id < 10 AND x.vec_id <> q.vec_id),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc ASC, neighbor_id ASC) AS crnk
       |    FROM scored) t WHERE crnk <= 20),
       |cs AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
       |  FROM cand c
       |  JOIN n nq ON nq.vec_id = c.query_id
       |  JOIN n nx ON nx.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cs)
       |SELECT query_id, rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin
  }

  /** Shared CTE prefix `v` → `n` → `cents` (every 32nd vector — the
    * registry-default quantizer) → `assigned` (cos-argmax cell, ties by
    * cent_id) — the SQL mirror of [[ivfCentroids]] + [[ivfAssign]],
    * shared by the IVF probe and IVF-PQ oracles. */
  private lazy val sqlIvfCtes =
    s"""v AS ($sqlVec),
         |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
         |cents AS (SELECT vec_id AS cent_id, d AS ce, nrm AS cn FROM n WHERE vec_id % 32 = 0),
         |assigned AS (
         |  SELECT vec_id, d, nrm, cell FROM (
         |    SELECT n.vec_id, n.d, n.nrm, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${sqlDot("n.d", "c.ce")} / sqrt(n.nrm * c.cn) DESC,
         |                 c.cent_id ASC) AS crnk
         |    FROM n CROSS JOIN cents c) t
         |  WHERE crnk = 1)""".stripMargin

  /** Shared by ann_ivf_probe AND ann_ivf_persist — the persisted-index
    * probe is bit-identical to the direct probe by construction, so one
    * oracle gates both. */
  private lazy val sqlIvfProbe =
    s"""WITH $sqlIvfCtes,
         |q AS (SELECT vec_id AS query_id, d AS qd, nrm AS qn, cell
         |      FROM assigned WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id, q.cell,
         |    ${sqlDot("q.qd", "a.d")} / sqrt(q.qn * a.nrm) AS cos
         |  FROM q JOIN assigned a ON q.cell = a.cell AND a.vec_id <> q.query_id)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cell, cos FROM (
         |  SELECT query_id, neighbor_id, cell, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** The IVF-PQ probe tail (in-cell ADC scoring → top-10 cut → exact
    * rerank to top-3) — shared VERBATIM by the raw-vector and residual
    * oracles; only the code-CTE source differs between them. */
  private lazy val sqlIvfPqTail: String = {
    val adcSum = (0 until PqM).map { m =>
      "(CASE " + (0 until PqK).map(k =>
        s"WHEN x.code$m = $k THEN qs.d${m}_$k").mkString(" ") + " END)"
    }.mkString(" + ")
    s"""scored AS (
         |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, q.cell,
         |    $adcSum AS adc
         |  FROM assigned q
         |  JOIN s qs ON qs.vec_id = q.vec_id
         |  JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.vec_id
         |  JOIN cd x ON x.vec_id = a.vec_id
         |  WHERE q.vec_id < 10),
         |cand AS (
         |  SELECT query_id, neighbor_id, cell FROM (
         |    SELECT query_id, neighbor_id, cell,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc ASC, neighbor_id ASC) AS crnk
         |    FROM scored) t WHERE crnk <= 10),
         |cs AS (
         |  SELECT c.query_id, c.neighbor_id, c.cell,
         |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
         |  FROM cand c
         |  JOIN n nq ON nq.vec_id = c.query_id
         |  JOIN n nx ON nx.vec_id = c.neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cell, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
         |  FROM cs)
         |SELECT query_id, rnk, neighbor_id, cell, cos
         |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  /** Refined IVF-PQ replay (FITTED books — the production IVFPQR): the
    * residual tier's assignment CTEs; the residual-input fit chain
    * (level-1 book `cb2`); level-1 codes from the `dist` relation (the
    * `ann_ivfpq_fitted` doctrine — a fitted book's surviving code ids
    * are data, so codes come from relations, not pivoted columns);
    * `rerr` decodes level 1 RELATIONALLY (codes joined to the book,
    * per-subspace error lists re-assembled in m order) and a SECOND
    * suffixed fit chain over it yields the refine book `cb2r`; the
    * refined score is a relational lookup sum — the query's two
    * distance tables (`qt1` over `dist`, `qt2` = residual subvectors ×
    * refine book) plus the 64-row `crosst` relation 2⟨c1,c2⟩ — with the
    * m-split SUM spelling that pins the engine's left-associated
    * addition order; stage-1 top-160 by level-1 ADC, stage-2 top-10 by
    * refined, exact rerank to 3. */
  private lazy val sqlIvfPqRefine: String = {
    def msum(t: String) = (0 until PqM)
      .map(m => s"SUM(CASE WHEN m = $m THEN $t END)").mkString(" + ")
    s"""WITH $sqlIvfCtes,
       |resid AS MATERIALIZED (
       |  SELECT a.vec_id,
       |    list_transform(list_zip(a.d, c.ce), z -> z[1] - z[2]) AS d
       |  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
       |${sqlPqFitCtesFrom("resid")},
       |dist AS MATERIALIZED (
       |  SELECT s.vec_id, s.m, c.k,
       |    list_sum(list_transform(list_zip(s.sub, c.ce),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist2
       |  FROM subs s JOIN cb2 c ON c.m = s.m),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist2 ASC, k ASC) AS rk
       |    FROM dist) t WHERE rk = 1),
       |rdec AS (
       |  SELECT c.vec_id, c.m, b.ce
       |  FROM codes c JOIN cb2 b ON b.m = c.m AND b.k = c.code),
       |rerrsub AS (
       |  SELECT d.vec_id, d.m,
       |    list_transform(list_zip(
       |      list_slice(r.d, 1 + d.m * $PqSub, (d.m + 1) * $PqSub), d.ce),
       |      z -> z[1] - z[2]) AS esub
       |  FROM rdec d JOIN resid r ON r.vec_id = d.vec_id),
       |rerr AS (
       |  SELECT vec_id, flatten(list(esub ORDER BY m)) AS d
       |  FROM rerrsub GROUP BY vec_id),
       |${sqlPqFitCtesFrom("rerr", "r")},
       |dist2t AS (
       |  SELECT s.vec_id, s.m, c.k,
       |    list_sum(list_transform(list_zip(s.sub, c.ce),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist2
       |  FROM subsr s JOIN cb2r c ON c.m = s.m),
       |codes2 AS (
       |  SELECT vec_id, m, k AS rcode FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist2 ASC, k ASC) AS rk
       |    FROM dist2t) t WHERE rk = 1),
       |qt1 AS (SELECT vec_id AS query_id, m, k, dist2 FROM dist WHERE vec_id < 10),
       |qt2 AS (
       |  SELECT s.vec_id AS query_id, s.m, c.k,
       |    list_sum(list_transform(list_zip(s.sub, c.ce),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist2
       |  FROM subs s JOIN cb2r c ON c.m = s.m WHERE s.vec_id < 10),
       |crosst AS (
       |  SELECT a.m, a.k AS k1, b.k AS k2,
       |    2 * list_sum(list_transform(list_zip(a.ce, b.ce),
       |      z -> z[1] * z[2])) AS cx
       |  FROM cb2 a JOIN cb2r b ON b.m = a.m),
       |pair AS (
       |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, a.cell, c1.m,
       |    qt1.dist2 AS t1, qt2.dist2 AS t2, cxt.cx AS cx
       |  FROM assigned q
       |  JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.vec_id
       |  JOIN codes c1 ON c1.vec_id = a.vec_id
       |  JOIN codes2 c2 ON c2.vec_id = a.vec_id AND c2.m = c1.m
       |  JOIN qt1 ON qt1.query_id = q.vec_id AND qt1.m = c1.m AND qt1.k = c1.code
       |  JOIN qt2 ON qt2.query_id = q.vec_id AND qt2.m = c1.m AND qt2.k = c2.rcode
       |  JOIN crosst cxt ON cxt.m = c1.m AND cxt.k1 = c1.code AND cxt.k2 = c2.rcode
       |  WHERE q.vec_id < 10),
       |adcagg AS (
       |  SELECT query_id, neighbor_id, cell,
       |    ${msum("t1")} AS adc,
       |    (${msum("t1")}) + (${msum("t2")}) + (${msum("cx")}) AS refined
       |  FROM pair GROUP BY query_id, neighbor_id, cell),
       |stage1 AS (
       |  SELECT query_id, neighbor_id, cell, refined FROM (
       |    SELECT query_id, neighbor_id, cell, refined,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc ASC, neighbor_id ASC) AS crnk
       |    FROM adcagg) t WHERE crnk <= 160),
       |stage2 AS (
       |  SELECT query_id, neighbor_id, cell FROM (
       |    SELECT query_id, neighbor_id, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY refined ASC, neighbor_id ASC) AS frnk
       |    FROM stage1) t WHERE frnk <= 10),
       |cs AS (
       |  SELECT c.query_id, c.neighbor_id, c.cell,
       |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
       |  FROM stage2 c
       |  JOIN n nq ON nq.vec_id = c.query_id
       |  JOIN n nx ON nx.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cell, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cs)
       |SELECT query_id, rnk, neighbor_id, cell, cos
       |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  /** nprobe probe of the at-rest codes index, replayed: the shared
    * assignment + code CTEs (the single-cell `ann_ivfpq` oracle's
    * halves, verbatim) with [[sqlIvfNprobe]]'s windowed top-nprobe cell
    * cut as the query side; the raw-book ADC table (`s`) is
    * cell-independent, so one `qs` row set serves every probed cell.
    * Cut 20 = 10·nprobe at the pinned default. */
  private lazy val sqlIvfPqPersistNprobe: String = {
    val adcSum = (0 until PqM).map { m =>
      "(CASE " + (0 until PqK).map(k =>
        s"WHEN x.code$m = $k THEN qs.d${m}_$k").mkString(" ") + " END)"
    }.mkString(" + ")
    s"""WITH $sqlIvfCtes,
       |$sqlPqCdCtes,
       |qc AS (
       |  SELECT query_id, cell FROM (
       |    SELECT n.vec_id AS query_id, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${sqlDot("n.d", "c.ce")} / sqrt(n.nrm * c.cn) DESC,
       |                 c.cent_id ASC) AS crnk
       |    FROM n CROSS JOIN cents c
       |    WHERE n.vec_id < 10) t
       |  WHERE crnk <= 2),
       |scored AS (
       |  SELECT qc.query_id, a.vec_id AS neighbor_id, a.cell,
       |    $adcSum AS adc
       |  FROM qc
       |  JOIN s qs ON qs.vec_id = qc.query_id
       |  JOIN assigned a ON a.cell = qc.cell AND a.vec_id <> qc.query_id
       |  JOIN cd x ON x.vec_id = a.vec_id),
       |cand AS (
       |  SELECT query_id, neighbor_id, cell FROM (
       |    SELECT query_id, neighbor_id, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc ASC, neighbor_id ASC) AS crnk
       |    FROM scored) t WHERE crnk <= 20),
       |cs AS (
       |  SELECT c.query_id, c.neighbor_id, c.cell,
       |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
       |  FROM cand c
       |  JOIN n nq ON nq.vec_id = c.query_id
       |  JOIN n nx ON nx.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cell, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cs)
       |SELECT query_id, rnk, neighbor_id, cell, cos
       |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  /** MMR replay: pool → pairwise sims → the three greedy steps unrolled
    * CTE-for-CTE against the engine's windows (each step's mmr
    * expression repeated in its ORDER BY — window aliases can't be
    * referenced in-SELECT). */
  private lazy val sqlMmr: String = {
    def mmrExpr(ms: String) =
      s"CAST(0.7 AS DOUBLE) * rel - CAST(0.3 AS DOUBLE) * $ms"
    s"""WITH v AS ($sqlVec),
       |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
       |q AS (SELECT vec_id AS query_id, d AS qd, nrm AS qn FROM n WHERE vec_id < 10),
       |p0 AS (SELECT q.query_id, x.vec_id AS cand_id, x.d, x.nrm,
       |    ${sqlDot("q.qd", "x.d")} / sqrt(q.qn * x.nrm) AS rel
       |  FROM q JOIN n x ON x.vec_id <> q.query_id),
       |pool AS (SELECT query_id, cand_id, d, nrm, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, cand_id ASC) AS prnk
       |    FROM p0) t WHERE prnk <= 10),
       |sims AS (SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
       |    ${sqlDot("a.d", "b.d")} / sqrt(a.nrm * b.nrm) AS sim
       |  FROM pool a JOIN pool b
       |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
       |rels AS (SELECT query_id, cand_id, rel FROM pool),
       |s1 AS (SELECT query_id, cand_id AS p1, mmr AS m1 FROM (
       |    SELECT query_id, cand_id, ${mmrExpr("CAST(0 AS DOUBLE)")} AS mmr,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ${mmrExpr("CAST(0 AS DOUBLE)")} DESC, cand_id ASC) AS r
       |    FROM rels) t WHERE r = 1),
       |r2 AS (SELECT x.query_id, x.cand_id, x.rel, s.sim AS ms, s1.p1
       |  FROM rels x
       |  JOIN s1 ON s1.query_id = x.query_id AND x.cand_id <> s1.p1
       |  JOIN sims s ON s.query_id = x.query_id AND s.ca = s1.p1
       |    AND s.cb = x.cand_id),
       |s2 AS (SELECT query_id, p1, cand_id AS p2, mmr AS m2 FROM (
       |    SELECT query_id, p1, cand_id, ${mmrExpr("ms")} AS mmr,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ${mmrExpr("ms")} DESC, cand_id ASC) AS r
       |    FROM r2) t WHERE r = 1),
       |r3 AS (SELECT x.query_id, x.cand_id, x.rel,
       |    GREATEST(sa.sim, sb.sim) AS ms
       |  FROM rels x
       |  JOIN s2 ON s2.query_id = x.query_id
       |    AND x.cand_id <> s2.p1 AND x.cand_id <> s2.p2
       |  JOIN sims sa ON sa.query_id = x.query_id AND sa.ca = s2.p1
       |    AND sa.cb = x.cand_id
       |  JOIN sims sb ON sb.query_id = x.query_id AND sb.ca = s2.p2
       |    AND sb.cb = x.cand_id),
       |s3 AS (SELECT query_id, cand_id AS p3, mmr AS m3 FROM (
       |    SELECT query_id, cand_id, ${mmrExpr("ms")} AS mmr,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY ${mmrExpr("ms")} DESC, cand_id ASC) AS r
       |    FROM r3) t WHERE r = 1)
       |SELECT query_id, CAST(1 AS BIGINT) AS rnk, p1 AS cand_id, m1 AS mmr FROM s1
       |UNION ALL SELECT query_id, CAST(2 AS BIGINT), p2, m2 FROM s2
       |UNION ALL SELECT query_id, CAST(3 AS BIGINT), p3, m3 FROM s3
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Multi-cell probe replay: the query-side top-nprobe cell cut is the
    * assign's own windowed argmax at crnk ≤ 2 (the registry default of
    * `spark.graft.ann.nprobe`, pinned here the way `vec_id % 32` pins
    * the centroid modulus); candidates are the union of the probed
    * cells' members from the UNCHANGED corpus assignment. */
  private lazy val sqlIvfNprobe =
    s"""WITH $sqlIvfCtes,
         |qc AS (
         |  SELECT query_id, qd, qn, cell FROM (
         |    SELECT n.vec_id AS query_id, n.d AS qd, n.nrm AS qn,
         |      c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${sqlDot("n.d", "c.ce")} / sqrt(n.nrm * c.cn) DESC,
         |                 c.cent_id ASC) AS crnk
         |    FROM n CROSS JOIN cents c
         |    WHERE n.vec_id < 10) t
         |  WHERE crnk <= 2),
         |scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id, a.cell,
         |    ${sqlDot("q.qd", "a.d")} / sqrt(q.qn * a.nrm) AS cos
         |  FROM qc q JOIN assigned a ON q.cell = a.cell AND a.vec_id <> q.query_id)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cell, cos FROM (
         |  SELECT query_id, neighbor_id, cell, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** IVF-PQ replay: cell from the shared assignment CTEs, ADC inside
    * the cell from the shared code CTEs — both halves reuse the exact
    * CTE text their standalone oracles use, so the composition cannot
    * drift from its parts. */
  private lazy val sqlIvfPq: String =
    s"""WITH $sqlIvfCtes,
       |$sqlPqCdCtes,
       |$sqlIvfPqTail""".stripMargin

  /** Residual IVF-PQ replay: the SAME assignment CTEs and probe tail,
    * with the code CTEs built over a one-line residual CTE (double-list
    * subtraction — the engine widens floats to doubles before
    * subtracting for exactly this equivalence). */
  private lazy val sqlIvfPqResidual: String =
    s"""WITH $sqlIvfCtes,
       |resid AS (
       |  SELECT a.vec_id,
       |    list_transform(list_zip(a.d, c.ce), z -> z[1] - z[2]) AS d
       |  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
       |${sqlPqCdCtesFrom("resid")},
       |$sqlIvfPqTail""".stripMargin

  /** Fitted-residual IVF-PQ replay: the shared assignment CTEs + the
    * residual CTE (verbatim from the fixed-book residual oracle) + the
    * residual-INPUT fit CTEs ([[sqlPqFitCtesFrom]]) — then corpus codes
    * and query ADC tables from ONE `dist` relation (the
    * `ann_pq_adc_fitted` doctrine: the fitted book's surviving code ids
    * are data, so codes must come from a relation, not pivoted
    * columns), with the cell constraint fused into the pair join and
    * the residual tier's probe depths (ADC top-10 in-cell, exact rerank
    * to 3). */
  private lazy val sqlIvfPqFitted: String =
    s"""WITH $sqlIvfCtes,
       |resid AS (
       |  SELECT a.vec_id,
       |    list_transform(list_zip(a.d, c.ce), z -> z[1] - z[2]) AS d
       |  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
       |${sqlPqFitCtesFrom("resid")},
       |dist AS (
       |  SELECT s.vec_id, s.m, c.k,
       |    list_sum(list_transform(list_zip(s.sub, c.ce),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist2
       |  FROM subs s JOIN cb2 c ON c.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist2 ASC, k ASC) AS rk
       |    FROM dist) t WHERE rk = 1),
       |qt AS (SELECT vec_id AS query_id, m, k, dist2 FROM dist WHERE vec_id < 10),
       |pair AS (
       |  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, a.cell,
       |    c.m, qt.dist2
       |  FROM assigned q
       |  JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.vec_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN qt ON qt.query_id = q.vec_id AND qt.m = c.m AND qt.k = c.code
       |  WHERE q.vec_id < 10),
       |adc AS (
       |  SELECT query_id, neighbor_id, cell,
       |    SUM(CASE WHEN m = 0 THEN dist2 END)
       |      + SUM(CASE WHEN m = 1 THEN dist2 END)
       |      + SUM(CASE WHEN m = 2 THEN dist2 END)
       |      + SUM(CASE WHEN m = 3 THEN dist2 END) AS adc
       |  FROM pair GROUP BY query_id, neighbor_id, cell),
       |cand AS (
       |  SELECT query_id, neighbor_id, cell FROM (
       |    SELECT query_id, neighbor_id, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc ASC, neighbor_id ASC) AS crnk
       |    FROM adc) t WHERE crnk <= 10),
       |cs AS (
       |  SELECT c.query_id, c.neighbor_id, c.cell,
       |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
       |  FROM cand c
       |  JOIN n nq ON nq.vec_id = c.query_id
       |  JOIN n nx ON nx.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cell, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cs)
       |SELECT query_id, rnk, neighbor_id, cell, cos
       |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** nprobe-composed fitted-residual IVF-PQ replay: the fitted oracle's
    * assignment/residual/fit CTEs verbatim, with the single-cell `qt`
    * swapped for a MULTI-ORIGIN query table — the windowed top-nprobe
    * cell cut ([[sqlIvfNprobe]]'s `qc` doctrine) carrying the query's
    * residual wrt EACH probed cell, subspace-distanced against the same
    * fitted book. The pair join ties a query table row to candidates of
    * its own origin cell, so every ADC value approximates ‖q − x‖²
    * against a shared origin and the cross-cell cut is well-defined;
    * the cut depth 20 = 10·nprobe at the pinned default nprobe=2. */
  private lazy val sqlIvfPqNprobe: String =
    s"""WITH $sqlIvfCtes,
       |resid AS (
       |  SELECT a.vec_id,
       |    list_transform(list_zip(a.d, c.ce), z -> z[1] - z[2]) AS d
       |  FROM assigned a JOIN cents c ON a.cell = c.cent_id),
       |${sqlPqFitCtesFrom("resid")},
       |dist AS (
       |  SELECT s.vec_id, s.m, c.k,
       |    list_sum(list_transform(list_zip(s.sub, c.ce),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist2
       |  FROM subs s JOIN cb2 c ON c.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, k AS code FROM (
       |    SELECT vec_id, m, k,
       |      row_number() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist2 ASC, k ASC) AS rk
       |    FROM dist) t WHERE rk = 1),
       |qprobe AS (
       |  SELECT query_id, cell, qres FROM (
       |    SELECT n.vec_id AS query_id, c.cent_id AS cell,
       |      list_transform(list_zip(n.d, c.ce), z -> z[1] - z[2]) AS qres,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${sqlDot("n.d", "c.ce")} / sqrt(n.nrm * c.cn) DESC,
       |                 c.cent_id ASC) AS crnk
       |    FROM n CROSS JOIN cents c WHERE n.vec_id < 10) t
       |  WHERE crnk <= 2),
       |qsubs AS (
       |  SELECT query_id, cell, mm.m,
       |    list_slice(qres, 1 + mm.m * $PqSub, (mm.m + 1) * $PqSub) AS sub
       |  FROM qprobe CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS m) mm),
       |qt AS (
       |  SELECT sq.query_id, sq.cell, sq.m, c.k,
       |    list_sum(list_transform(list_zip(sq.sub, c.ce),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist2
       |  FROM qsubs sq JOIN cb2 c ON c.m = sq.m),
       |pair AS (
       |  SELECT qt.query_id, a.vec_id AS neighbor_id, a.cell,
       |    c.m, qt.dist2
       |  FROM qt
       |  JOIN assigned a ON a.cell = qt.cell AND a.vec_id <> qt.query_id
       |  JOIN codes c ON c.vec_id = a.vec_id AND c.m = qt.m AND qt.k = c.code),
       |adc AS (
       |  SELECT query_id, neighbor_id, cell,
       |    SUM(CASE WHEN m = 0 THEN dist2 END)
       |      + SUM(CASE WHEN m = 1 THEN dist2 END)
       |      + SUM(CASE WHEN m = 2 THEN dist2 END)
       |      + SUM(CASE WHEN m = 3 THEN dist2 END) AS adc
       |  FROM pair GROUP BY query_id, neighbor_id, cell),
       |cand AS (
       |  SELECT query_id, neighbor_id, cell FROM (
       |    SELECT query_id, neighbor_id, cell,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc ASC, neighbor_id ASC) AS crnk
       |    FROM adc) t WHERE crnk <= 20),
       |cs AS (
       |  SELECT c.query_id, c.neighbor_id, c.cell,
       |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
       |  FROM cand c
       |  JOIN n nq ON nq.vec_id = c.query_id
       |  JOIN n nx ON nx.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cell, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cs)
       |SELECT query_id, rnk, neighbor_id, cell, cos
       |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  /** DuckDB oracle for the SQ8 probe — shared verbatim by `ann_sq8` and
    * `ann_sq8_persist` (the persisted probe is bit-identical by design,
    * so ONE oracle gates both). */
  private lazy val sqlSq8Probe: String =
      s"""WITH v AS ($sqlVec),
         |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm,
         |  list_transform(d, x -> floor(greatest(-1.0, least(1.0, x)) * 127.0 + 0.5)) AS q8
         |  FROM v),
         |scored AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    q.d AS qd, q.nrm AS qn, x.d AS xd, x.nrm AS xn,
         |    ${sqlDot("q.q8", "x.q8")} AS q8score
         |  FROM n q JOIN n x ON q.vec_id < 10 AND x.vec_id <> q.vec_id),
         |cand AS (
         |  SELECT * FROM (
         |    SELECT query_id, neighbor_id, qd, qn, xd, xn,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY q8score DESC, neighbor_id ASC) AS crnk
         |    FROM scored) t WHERE crnk <= 20),
         |rer AS (
         |  SELECT query_id, neighbor_id,
         |    ${sqlDot("qd", "xd")} / sqrt(qn * xn) AS cos
         |  FROM cand),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
         |  FROM rer)
         |SELECT query_id, rnk, neighbor_id, cos
         |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** The sign-quantized probe oracle — hamming replayed as the COUNT of
    * sign-disagreeing dimensions, the same integer the engine's packed
    * xor+bit_count computes. A val (not inline) because the recall
    * ladder wraps it as a subquery. */
  private lazy val sqlBinarySign: String =
    s"""WITH v AS ($sqlVec),
       |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
       |scored AS (
       |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
       |    len(list_filter(list_zip(q.d, x.d),
       |      s -> (s[1] > 0) <> (s[2] > 0))) AS hd,
       |    ${sqlDot("q.d", "x.d")} / sqrt(q.nrm * x.nrm) AS cos
       |  FROM n q JOIN n x ON q.vec_id < 10 AND x.vec_id <> q.vec_id),
       |cand AS (
       |  SELECT query_id, neighbor_id, cos FROM (
       |    SELECT query_id, neighbor_id, cos,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY hd ASC, neighbor_id ASC) AS crnk
       |    FROM scored) t WHERE crnk <= 20),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
       |  FROM cand)
       |SELECT query_id, rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Generic recall-ladder oracle: the TIER's own full oracle statement
    * runs verbatim as a subquery (DuckDB scopes its WITH names locally,
    * so the tier's `v`/`n` shadow the outer ones) and its (query_id,
    * neighbor_id) pairs are hit-checked against the shared brute-force
    * truth at the tier's own depth — the oracle cannot drift from the
    * tier it evaluates because it IS the tier's oracle text. */
  private def sqlRecallOf(tierSql: String, depth: Int): String =
    s"""WITH v AS ($sqlVec),
       |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
       |probe AS (
       |  SELECT query_id, neighbor_id FROM ($tierSql) p),
       |bscored AS (
       |  SELECT nq.vec_id AS query_id, nx.vec_id AS neighbor_id,
       |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
       |  FROM n nq JOIN n nx ON nq.vec_id < 10 AND nx.vec_id <> nq.vec_id),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |    FROM bscored) t WHERE rnk <= $depth),
       |hits AS (
       |  SELECT p.query_id, count(*) AS n_hits
       |  FROM probe p JOIN truth t
       |    ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
       |  GROUP BY p.query_id)
       |SELECT tq.query_id,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / $depth.0 AS recall
       |FROM (SELECT DISTINCT query_id FROM truth) tq
       |LEFT JOIN hits h ON h.query_id = tq.query_id
       |ORDER BY tq.query_id""".stripMargin

  /** The lr-probe oracle: one labeled-feature CTE, then per GD step an
    * error CTE (σ on the 2⁻²⁰ grid), a gradient CTE (65 exact
    * grid-BIGINT sums + n) and a scalar weight CTE; same arithmetic
    * shapes as the Spark plan, generated from the same DIM. */
  private lazy val sqlLrProbe: String = sqlLrProbeWith("")

  /** The converged trainer's oracle is the fixed S-step replay plus the
    * `n_steps` row — the registry defaults make the maxSteps bound bind
    * on the fixture (spec-asserted), so the bounded form IS the replay;
    * S = [[graft.GraftConf.LrStepsDefault]], the same constant the
    * engine's budget default and the fixed trainer's unroll use (r16
    * advice: the coupling is now structural, not textual). */
  private lazy val sqlLrConverged: String =
    sqlLrProbeWith(
      s"UNION ALL SELECT 'n_steps', CAST(${graft.GraftConf.LrStepsDefault}.0 AS DOUBLE)")

  private def sqlLrProbeWith(extraRows: String): String = {
    val g = "CAST(1048576 AS DOUBLE)"
    val zS = "(list_sum(list_transform(list_zip(w, d), s -> s[1] * s[2])) + wb)"
    val pS = s"floor((1.0 / (1.0 + exp(-($zS)))) * $g) / $g"
    def eCte(i: Int) =
      s"e$i AS (SELECT d, y, ($pS) - y AS e FROM f CROSS JOIN w${i - 1})"
    def gCte(i: Int) =
      s"g$i AS (SELECT " +
        (0 until DIM).map(j =>
          s"sum(CAST(floor((e * d[${j + 1}]) * $g) AS BIGINT)) AS g$j").mkString(", ") +
        s", sum(CAST(floor(e * $g) AS BIGINT)) AS gb, count(*) AS n FROM e$i)"
    def wCte(i: Int) =
      s"w$i AS (SELECT [" +
        (0 until DIM).map(j =>
          s"w[${j + 1}] - 4.0 * ((CAST(g$j AS DOUBLE) / $g) / CAST(n AS DOUBLE))").mkString(", ") +
        s"] AS w, wb - 4.0 * ((CAST(gb AS DOUBLE) / $g) / CAST(n AS DOUBLE)) AS wb " +
        s"FROM w${i - 1} CROSS JOIN g$i)"
    // replay depth = the family's one step constant (r16 advice)
    val nSteps = graft.GraftConf.LrStepsDefault
    val stepCtes = (1 to nSteps)
      .map(i => s"${eCte(i)}, ${gCte(i)}, ${wCte(i)},").mkString("\n")
    val wT = s"w$nSteps"
    val dimRows = (0 until DIM).map { j =>
      val t = "w_%03d".format(j)
      if (j == 0) s"SELECT '$t' AS term, w[1] AS value FROM $wT"
      else s"UNION ALL SELECT '$t', w[${j + 1}] FROM $wT"
    }.mkString("\n")
    s"""WITH v AS ($sqlVecLabeled),
       |f AS (SELECT vec_id, d,
       |  CAST(CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y FROM v),
       |w0 AS (SELECT [${Seq.fill(DIM)("CAST(0.0 AS DOUBLE)").mkString(", ")}] AS w,
       |  CAST(0.0 AS DOUBLE) AS wb),
       |$stepCtes
       |acc AS (
       |  SELECT CAST(sum(CASE WHEN ($zS >= 0.0) = (y = 1.0) THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS value
       |  FROM f CROSS JOIN $wT)
       |SELECT term, value FROM (
       |$dimRows
       |UNION ALL SELECT 'w_bias', wb FROM $wT
       |UNION ALL SELECT 'accuracy', value FROM acc
       |$extraRows)
       |ORDER BY term""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "pq_encode" -> sqlPqEncode,
    "ann_pq_adc" -> sqlPqAdc,
    "pq_train" -> sqlPqTrain,
    "ann_pq_adc_fitted" -> sqlPqAdcFitted,
    "ann_ivfpq" -> sqlIvfPq,
    "ann_ivfpq_residual" -> sqlIvfPqResidual,
    "ann_ivfpq_fitted" -> sqlIvfPqFitted,
    "ann_ivfpq_nprobe" -> sqlIvfPqNprobe,
    "ann_recall_ivfpq_nprobe" -> sqlRecallOf(sqlIvfPqNprobe, 3),
    "ann_ivfpq_refine" -> sqlIvfPqRefine,
    "ann_recall_ivfpq_refine" -> sqlRecallOf(sqlIvfPqRefine, 3),
    "mmr_rerank" -> sqlMmr,
    "embed_knn_classify" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d,
         |           CAST(label AS BIGINT) AS label FROM embeddings),
         |n AS (SELECT vec_id, label, d, ${sqlDot("d", "d")} AS nrm FROM v),
         |q AS (SELECT vec_id AS query_id, label AS true_label, d AS qd, nrm AS qn
         |      FROM n WHERE vec_id < 50),
         |scored AS (
         |  SELECT q.query_id, q.true_label, c.vec_id AS neighbor_id, c.label,
         |    ${sqlDot("q.qd", "c.d")} / sqrt(q.qn * c.nrm) AS cos
         |  FROM q CROSS JOIN n c WHERE c.vec_id >= 50),
         |top AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rnk FROM scored) t
         |  WHERE rnk <= 5),
         |votes AS (SELECT query_id, true_label, label, count(*) AS n_votes
         |          FROM top GROUP BY 1, 2, 3)
         |SELECT query_id, true_label, label AS pred_label, n_votes FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY n_votes DESC, label ASC) AS vr FROM votes) t
         |WHERE vr = 1 ORDER BY query_id""".stripMargin,
    "ann_ivf_kmeans" ->
      s"""WITH v AS ($sqlVec),
         |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
         |c0 AS (SELECT vec_id AS cent_id, d AS ce FROM n WHERE vec_id % 32 = 0),
         |${sqlLloydIter("c0", "c1")},
         |${sqlLloydIter("c1", "c2")},
         |cents AS (SELECT cent_id, ce, ${sqlDot("ce", "ce")} AS cn FROM c2),
         |assigned AS (
         |  SELECT vec_id, d, nrm, cell FROM (
         |    SELECT n.vec_id, n.d, n.nrm, c.cent_id AS cell,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${sqlDot("n.d", "c.ce")} / sqrt(n.nrm * c.cn) DESC,
         |                 c.cent_id ASC) AS crnk
         |    FROM n CROSS JOIN cents c) t
         |  WHERE crnk = 1),
         |q AS (SELECT vec_id AS query_id, d AS qd, nrm AS qn, cell
         |      FROM assigned WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id, q.cell,
         |    ${sqlDot("q.qd", "a.d")} / sqrt(q.qn * a.nrm) AS cos
         |  FROM q JOIN assigned a ON q.cell = a.cell AND a.vec_id <> q.query_id)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id, cell, cos FROM (
         |  SELECT query_id, neighbor_id, cell, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    "ann_ivf_probe" -> sqlIvfProbe,
    "ann_ivf_nprobe" -> sqlIvfNprobe,
    "ann_ivf_persist" -> sqlIvfProbe,
    "ann_ivfpq_persist" -> sqlIvfPq,
    "ann_ivfpq_persist_nprobe" -> sqlIvfPqPersistNprobe,
    "embed_lr_probe" -> sqlLrProbe,
    "embed_lr_converged" -> sqlLrConverged,
    "hard_negatives" ->
      s"""WITH v AS ($sqlVecLabeled),
         |n AS (SELECT vec_id, label, d, ${sqlDot("d", "d")} AS nrm FROM v),
         |scored AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    CAST(x.label AS BIGINT) AS neg_label,
         |    ${sqlDot("q.d", "x.d")} / sqrt(q.nrm * x.nrm) AS cos
         |  FROM n q JOIN n x
         |    ON q.vec_id < 10 AND x.vec_id <> q.vec_id AND x.label <> q.label),
         |ranked AS (
         |  SELECT query_id, neighbor_id, neg_label, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT query_id, rnk, neighbor_id, neg_label, cos
         |FROM ranked WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin,
    "ann_recall_eval" ->
      s"""WITH $sqlIvfCtes,
         |q AS (SELECT vec_id AS query_id, d AS qd, nrm AS qn, cell
         |      FROM assigned WHERE vec_id < 10),
         |pscored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    ${sqlDot("q.qd", "a.d")} / sqrt(q.qn * a.nrm) AS cos
         |  FROM q JOIN assigned a ON q.cell = a.cell AND a.vec_id <> q.query_id),
         |probe AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM pscored) t WHERE rnk <= 3),
         |bscored AS (
         |  SELECT nq.vec_id AS query_id, nx.vec_id AS neighbor_id,
         |    ${sqlDot("nq.d", "nx.d")} / sqrt(nq.nrm * nx.nrm) AS cos
         |  FROM n nq JOIN n nx ON nq.vec_id < 10 AND nx.vec_id <> nq.vec_id),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM bscored) t WHERE rnk <= 3),
         |hits AS (
         |  SELECT p.query_id, count(*) AS n_hits
         |  FROM probe p JOIN truth t
         |    ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id
         |  GROUP BY p.query_id)
         |SELECT tq.query_id,
         |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 3.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM truth) tq
         |LEFT JOIN hits h ON h.query_id = tq.query_id
         |ORDER BY tq.query_id""".stripMargin,
    "embed_outlier_knn" ->
      s"""WITH v AS ($sqlVec),
         |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
         |p AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |    ${sqlDot("a.d", "b.d")} / sqrt(a.nrm * b.nrm) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id),
         |dir AS (SELECT va AS vec_id, cos FROM p
         |        UNION ALL SELECT vb, cos FROM p),
         |r AS (SELECT vec_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC) AS rk
         |  FROM dir),
         |k AS (SELECT vec_id, min(cos) AS kth_cos FROM r WHERE rk <= 5
         |  GROUP BY 1)
         |SELECT vec_id, kth_cos, 1 - kth_cos AS knn_dist FROM k
         |ORDER BY knn_dist DESC, vec_id ASC LIMIT 20""".stripMargin,
    "embed_top_pairs" ->
      s"""WITH v AS ($sqlVec),
         |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    ${sqlDot("a.d", "b.d")} / sqrt(a.nrm * b.nrm) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id) t
         |ORDER BY cos DESC, vec_a ASC, vec_b ASC LIMIT 20""".stripMargin,
    "ann_sq8" -> sqlSq8Probe,
    "ann_sq8_persist" -> sqlSq8Probe,
    "ann_recall_nprobe" -> sqlRecallOf(sqlIvfNprobe, 3),
    "ann_recall_sq8" -> sqlRecallOf(sqlSq8Probe, 5),
    "ann_recall_binary" -> sqlRecallOf(sqlBinarySign, 5),
    "ann_recall_pq_fitted" -> sqlRecallOf(sqlPqAdcFitted, 5),
    "ann_recall_ivfpq" -> sqlRecallOf(sqlIvfPq, 3),
    "ann_recall_ivfpq_fitted" -> sqlRecallOf(sqlIvfPqFitted, 3),
    // hamming replayed as the COUNT of sign-disagreeing dimensions —
    // the same integer the engine's packed xor+bit_count computes
    "ann_binary_sign" -> sqlBinarySign,
    "ann_topk_brute" ->
      s"""WITH v AS ($sqlVec),
         |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
         |scored AS (
         |  SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |    ${sqlDot("q.d", "x.d")} / sqrt(q.nrm * x.nrm) AS cos
         |  FROM n q JOIN n x ON q.vec_id < 10 AND x.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT query_id, rnk, neighbor_id, cos
         |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,
    "ann_lsh_bucket" ->
      s"""WITH $sqlBkCtes,
         |pairs AS (
         |  SELECT a.vec_id AS vec_id, a.bucket AS bucket, b.vec_id AS neighbor_id,
         |    ${sqlDot("a.d", "b.d")} / sqrt(a.nrm * b.nrm) AS cos
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |best AS (
         |  SELECT vec_id, neighbor_id, cos FROM (
         |    SELECT vec_id, neighbor_id, cos,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM pairs) t WHERE rnk = 1)
         |SELECT bk.vec_id AS vec_id, CAST(bk.bucket AS BIGINT) AS bucket,
         |  CAST(coalesce(best.neighbor_id, -1) AS BIGINT) AS neighbor_id,
         |  coalesce(best.cos, -2.0) AS cos
         |FROM bk LEFT JOIN best ON bk.vec_id = best.vec_id
         |ORDER BY vec_id""".stripMargin,
    "ann_lsh_multiprobe" ->
      s"""WITH $sqlBkCtes,
         |pr AS (SELECT vec_id, d, nrm,
         |    unnest([bucket, ${(0 until DefaultPlanes)
                .map(j => s"xor(bucket, ${1L << j})").mkString(", ")}]) AS pbucket
         |  FROM bk),
         |pairs AS (
         |  SELECT p.vec_id, c.vec_id AS neighbor_id,
         |    ${sqlDot("p.d", "c.d")} / sqrt(p.nrm * c.nrm) AS cos
         |  FROM pr p JOIN bk c ON c.bucket = p.pbucket AND c.vec_id <> p.vec_id),
         |best AS (
         |  SELECT vec_id, neighbor_id, cos FROM (
         |    SELECT vec_id, neighbor_id, cos,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY cos DESC, neighbor_id ASC) AS rnk
         |    FROM pairs) t WHERE rnk = 1)
         |SELECT bk.vec_id AS vec_id, CAST(bk.bucket AS BIGINT) AS bucket,
         |  CAST(coalesce(best.neighbor_id, -1) AS BIGINT) AS neighbor_id,
         |  coalesce(best.cos, -2.0) AS cos
         |FROM bk LEFT JOIN best ON bk.vec_id = best.vec_id
         |ORDER BY vec_id""".stripMargin,
    "embed_dedup_clusters" ->
      s"""WITH RECURSIVE $sqlBkCtes,
         |np AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ${sqlDot("a.d", "b.d")} / sqrt(a.nrm * b.nrm) >= $ClusterCosThreshold),
         |e(src, dst) AS (SELECT va, vb FROM np UNION ALL SELECT vb, va FROM np),
         |reach(x, m) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, reach.m FROM reach JOIN e ON e.src = reach.x),
         |lab AS (SELECT x AS vec_id, min(m) AS cluster_id FROM reach GROUP BY 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY 1)
         |SELECT lab.vec_id, lab.cluster_id, sz.cluster_size,
         |  lab.vec_id = lab.cluster_id AS is_keeper
         |FROM lab JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin,
    "dedup_semantic" ->
      // the asg CTE replays the TWO-LEVEL indexed assign exactly:
      // super-centroids by centroid rank (every ⌈√k⌉-th), centroids and
      // vectors each argmax over the supers, vectors then argmax within
      // the probed super-cell — same fold, same tie order as the Spark op
      s"""WITH RECURSIVE v AS ($sqlVec),
         |n AS (SELECT vec_id, d, ${sqlDot("d", "d")} AS nrm FROM v),
         |cents AS (SELECT vec_id AS cent_id, d AS ce, nrm AS cn FROM n
         |          WHERE vec_id % 32 = 0),
         |crank AS (SELECT cent_id, ce, cn,
         |    row_number() OVER (ORDER BY cent_id) - 1 AS ord FROM cents),
         |m2 AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)
         |         AS mod2 FROM cents),
         |sup AS (SELECT cent_id AS sup_id, ce AS se, cn AS sn FROM crank
         |        WHERE ord % (SELECT mod2 FROM m2) = 0),
         |csup AS (
         |  SELECT cent_id, ce, cn, sup_id AS cs FROM (
         |    SELECT c.cent_id, c.ce, c.cn, s.sup_id,
         |      row_number() OVER (PARTITION BY c.cent_id
         |        ORDER BY ${sqlDot("c.ce", "s.se")} / sqrt(c.cn * s.sn) DESC,
         |          s.sup_id ASC) AS srnk
         |    FROM cents c CROSS JOIN sup s) t WHERE srnk = 1),
         |vsup AS (
         |  SELECT vec_id, d, nrm, sup_id AS vs FROM (
         |    SELECT n.vec_id, n.d, n.nrm, s.sup_id,
         |      row_number() OVER (PARTITION BY n.vec_id
         |        ORDER BY ${sqlDot("n.d", "s.se")} / sqrt(n.nrm * s.sn) DESC,
         |          s.sup_id ASC) AS srnk
         |    FROM n CROSS JOIN sup s) t WHERE srnk = 1),
         |asg AS (
         |  SELECT vec_id, d, nrm, cent_id AS cell, ccos FROM (
         |    SELECT p.vec_id, p.d, p.nrm, c.cent_id,
         |      ${sqlDot("p.d", "c.ce")} / sqrt(p.nrm * c.cn) AS ccos,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY ${sqlDot("p.d", "c.ce")} / sqrt(p.nrm * c.cn) DESC,
         |          c.cent_id ASC) AS crnk
         |    FROM vsup p JOIN csup c ON c.cs = p.vs) t
         |  WHERE crnk = 1),
         |np AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${sqlDot("a.d", "b.d")} / sqrt(a.nrm * b.nrm) >= $ClusterCosThreshold),
         |e(src, dst) AS (SELECT va, vb FROM np UNION ALL SELECT vb, va FROM np),
         |reach(x, m) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT e.dst, reach.m FROM reach JOIN e ON e.src = reach.x),
         |lab AS (SELECT x AS vec_id, min(m) AS group_id FROM reach GROUP BY 1),
         |sz AS (SELECT group_id, CAST(count(*) AS BIGINT) AS group_size
         |       FROM lab GROUP BY 1),
         |rk AS (SELECT lab.vec_id,
         |    row_number() OVER (PARTITION BY lab.group_id
         |      ORDER BY asg.ccos ASC, lab.vec_id ASC) AS r
         |  FROM lab JOIN asg USING (vec_id))
         |SELECT lab.vec_id, asg.cell, lab.group_id, sz.group_size,
         |  rk.r = 1 AS is_keeper
         |FROM lab JOIN asg USING (vec_id) JOIN sz USING (group_id)
         |  JOIN rk ON rk.vec_id = lab.vec_id
         |ORDER BY lab.vec_id""".stripMargin)
}
