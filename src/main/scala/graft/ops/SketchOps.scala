package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch tier (SURVEY.md §2b Q10 approx-distinct family, scale
  * path): at 100 TB the right architecture for distinct-counting,
  * percentile tracking and audience set-algebra is NOT a one-shot exact
  * aggregate over the whole corpus — it is per-partition (per-day /
  * per-shard / per-type) SKETCHES that are persisted small and
  * UNION-MERGED later, so yesterday's sketch is never recomputed and any
  * slice roll-up is a few-KB-per-group merge. Spark 4 exposes exactly
  * this via the DataSketches function family:
  *
  *   - HLL: `hll_sketch_agg` (build — shuffles only the 2^lgK register
  *     array per group), `hll_union_agg` (merge), `hll_sketch_estimate`.
  *   - KLL: `kll_sketch_agg_double` (build), `kll_merge_agg_double`
  *     (merge), `kll_sketch_get_quantile_double` — the mergeable twin of
  *     the one-shot `approx_percentile` in [[CoreOps.quantilesApprox]].
  *   - Theta: `theta_sketch_agg` / `theta_union` / `theta_intersection` /
  *     `theta_difference` — mergeable distinct-count SET ALGEBRA, which
  *     HLL cannot do (HLL unions only; no intersect/A-minus-B).
  *
  * Correctness story: all four queries are approximate by semantics, so
  * they are registry rows-only (like `approx_distinct`); the evidence is
  * [[graft.ApproxBounds]] (committed error bounds vs the exact oracled
  * twins at sf0.01 AND sf0.1) + SketchTierSpec / VariantSketchSpec:
  *
  *   - every HLL estimate within 5% of exact (lgK=12 → rsd ≈ 1.04%, so
  *     the bound sits ≈ 5σ out); merged-vs-direct is EXACT equality
  *     (register-wise max is the same fold either way);
  *   - every KLL quantile within 1% NORMALIZED RANK of the exact value
  *     (k=800 → ~0.25% one-sided rank error; rank — not value — is the
  *     quantity KLL bounds, so the spec measures rank distance);
  *   - every theta estimate within 5% of its exact set-algebra twin.
  *
  * Reference anchor: the reference's reducer merges per-file partial
  * outputs into one result (Program.cs:365-378); a sketch union is that
  * same gather with an O(KB) mergeable state instead of raw rows.
  */
object SketchOps {
  type Q = (SparkSession, String) => DataFrame

  private[graft] val LgK = 12
  private[graft] val KllK = 800

  def hllUserSketches(spark: SparkSession, sfDir: String): DataFrame = {
    // Materialize the 5-row sketch table ONCE (eager local checkpoint):
    // both levels below reuse it, and without the checkpoint Catalyst
    // inlines the aggregate into each branch — the events scan + sketch
    // build would run twice per action, the exact rebuild the sketch
    // architecture exists to avoid (round-8 verdict finding #3).
    val perType = Fixpoint.eagerCheckpoint(
      Tables.events(spark, sfDir)
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(LgK)).as("sk")))
    val per = perType
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("approx_users"))
    val all = perType
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
      .select(lit("__ALL__").as("event_type"),
        hll_sketch_estimate(col("sk")).as("approx_users"))
    per.unionByName(all).orderBy("event_type")
  }

  /** The persistence round-trip that makes the sketch architecture
    * END-TO-END: slice 1 of the events (even event_ids — think
    * "yesterday's ingest shard") is sketched and WRITTEN TO PARQUET as a
    * binary register column; the query then re-reads those sketches from
    * disk and union-merges them with slice 2's fresh in-session sketches
    * (odd event_ids — "today"). Slice 1's raw rows are never rescanned
    * after the write — the incremental distinct-count pipeline a 100-TB
    * deployment actually runs day over day. Because HLL union is a
    * register-wise max, the final estimates are EXACTLY equal to
    * [[hllUserSketches]] over the full table (SketchTierSpec pins this
    * through the write/read boundary — the serialized sketch bytes
    * survive parquet intact).
    *
    * The sketch store lives under [[FileOps.filesRoot]] so that on a real
    * cluster it lands on the shared FS every executor sees.
    */
  def hllSketchPersist(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def sliceSketch(pred: Column): DataFrame = ev.filter(pred)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(LgK)).as("sk"))
    // "yesterday": sketch ONCE, persist small (5 rows × ~4 KB registers)
    // behind the shared marker — rebuilding the store on every call
    // (the previous formulation) was exactly the raw-rescan the sketch
    // architecture exists to avoid. materializeOnce also serializes
    // within this JVM; concurrent SESSIONS sharing a files root remain
    // the deployment's setup-step responsibility (see its scaladoc)
    val store = FileOps.materializeOnce(spark, "hllstore", sfDir) { d =>
      sliceSketch(col("event_id") % 2 === 0)
        .write.mode("overwrite").parquet(d)
    }
    // "today": fresh sketches union-merged with the RE-READ store; the
    // merged 5-row table is checkpointed so the per-type and global
    // levels don't each re-run the today-slice aggregate.
    val merged = Fixpoint.eagerCheckpoint(
      spark.read.parquet(store)
        .unionByName(sliceSketch(col("event_id") % 2 =!= 0))
        .groupBy(col("event_type"))
        .agg(hll_union_agg(col("sk"), lit(false)).as("sk")))
    val per = merged
      .select(col("event_type"), hll_sketch_estimate(col("sk")).as("approx_users"))
    val all = merged
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
      .select(lit("__ALL__").as("event_type"),
        hll_sketch_estimate(col("sk")).as("approx_users"))
    per.unionByName(all).orderBy("event_type")
  }

  /** Mergeable percentile tier: per-returnflag KLL sketches of
    * l_extendedprice, quantiles read per group AND globally — the global
    * row derives from `kll_merge_agg_double` over the three group
    * sketches, never rescanning lineitem (the same
    * build-per-slice/merge-on-rollup shape as the HLL tier, for order
    * statistics). One-shot `approx_percentile` ([[CoreOps.quantilesApprox]])
    * cannot do this: its result is a value, not a mergeable state.
    *
    * k=800 → ~0.25% one-sided normalized rank error. NOTE: DataSketches
    * KLL compaction draws from an unseeded java.util.Random (verified in
    * datasketches-java 6.2.0 bytecode), so sketch CONTENTS are not
    * run-deterministic once n > k — the registry row is rows-only and
    * the spec bounds RANK distance vs the exact sort, which holds for
    * every draw at ≥99% confidence.
    */
  def kllQuantileMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val perFlag = Fixpoint.eagerCheckpoint(
      Tables.lineitem(spark, sfDir)
        .groupBy(col("l_returnflag"))
        .agg(kll_sketch_agg_double(col("l_extendedprice").cast("double"), KllK)
          .as("sk")))
    def quantiles(df: DataFrame, key: Column): DataFrame = df.select(
      key.as("slice"),
      kll_sketch_get_quantile_double(col("sk"), lit(0.5)).as("p50"),
      kll_sketch_get_quantile_double(col("sk"), lit(0.9)).as("p90"),
      kll_sketch_get_quantile_double(col("sk"), lit(0.99)).as("p99"))
    val per = quantiles(perFlag, col("l_returnflag"))
    val all = quantiles(
      perFlag.agg(kll_merge_agg_double(col("sk"), KllK).as("sk")),
      lit("__ALL__"))
    per.unionByName(all).orderBy("slice")
  }

  /** Mergeable distinct-count SET ALGEBRA: theta sketches of the
    * clicking and purchasing populations built in ONE events scan
    * (conditional aggregates), then |A|, |B|, |A∪B|, |A∩B| and |A\B|
    * estimated sketch-side. This is the audience-overlap / funnel
    * question ("how many click-days saw no purchase?") that HLL cannot
    * answer — HLL only unions — and that an exact computation answers
    * with a full key-set shuffle per slice combination. Theta keeps the
    * k smallest hashes (default lgK=12), so every set operation is a
    * bounded merge over ≤4096 hash values per side; estimates are
    * deterministic for fixed input (hash-based, no RNG).
    *
    * The set element is the (user, day) GRAIN, not the bare user: every
    * fixture user eventually does every event type, so user-level sets
    * coincide at all SFs — the user-day activity grain is where the
    * populations genuinely differ (and is the grain DAU-overlap
    * dashboards actually query).
    */
  /** The (user, day) grain key — user_id ⊕ day-number, injective because
    * day-numbers are ≪ 100000. ONE definition shared by the query, the
    * committed APPROX_BOUNDS artifact, and SketchTierSpec: if the grain
    * changed in the query alone, the artifact would keep measuring
    * "exact" sets at the old grain and record passing bounds against the
    * wrong ground truth (round-9 review finding). */
  def userDayKey: Column =
    col("user_id") * lit(100000L) +
      (unix_micros(col("ts")) / lit(86400000000L)).cast("long")

  def thetaUserSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val userDay = userDayKey
    val sks = Tables.events(spark, sfDir).agg(
      theta_sketch_agg(when(col("event_type") === "click", userDay)).as("a"),
      theta_sketch_agg(when(col("event_type") === "purchase", userDay)).as("b"))
    sks.select(
      theta_sketch_estimate(col("a")).as("click_user_days"),
      theta_sketch_estimate(col("b")).as("purchase_user_days"),
      theta_sketch_estimate(theta_union(col("a"), col("b")))
        .as("union_user_days"),
      theta_sketch_estimate(theta_intersection(col("a"), col("b")))
        .as("intersect_user_days"),
      theta_sketch_estimate(theta_difference(col("a"), col("b")))
        .as("click_only_user_days"))
  }

  /** Mergeable heavy hitters — the frequent-items member of the sketch
    * family ([[graft.functions.FrequencyFunctions]], custom
    * `TypedImperativeAggregate` over DataSketches `ItemsSketch` since
    * Spark has no built-in FI surface): per-source token sketches are
    * built in one pass (a few KB each — the persistable slice state),
    * union-merged, and the merged sketch's NO_FALSE_NEGATIVES item list
    * becomes the CANDIDATE set — provably a superset of every token
    * whose true count exceeds the sketch's error bound. Candidates are
    * then verified with EXACT counts (a broadcast semi-join — the
    * decontaminate_prefilter pattern applied to heavy hitters), so the
    * emitted top-20 is deterministic and fully ORACLED even though
    * sketch internals vary with merge order. FrequencySpec pins the
    * determinism PRECONDITION (merged maxError ≪ the 20th exact count)
    * rather than assuming it.
    *
    * vs [[QualityOps.heavyHitters]]: that is one-shot Misra–Gries over
    * the whole corpus; this is the same guarantee in MERGEABLE form —
    * yesterday's slice sketch is never rebuilt, and any slice roll-up
    * is a KB-sized merge. */
  def fiTopkMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.FrequencyFunctions._
    val m = fiMaxMap(spark)
    val toks = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val perSource = toks.groupBy("source")
      .agg(fiSketchAgg(col("token"), m).as("sk"))
    val merged = perSource.agg(fiUnionAgg(col("sk"), m).as("sk"))
    val cand = merged
      .select(explode(fiSketchItems(col("sk"))).as("token"))
    toks.join(broadcast(cand), "token")
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)
  }

  /** FI sketch capacity (power of 2). The heavy-hitter guarantee is
    * RELATIVE — count > ~3.5·n/maxMap — so when a corpus grows with a
    * FLAT tail (more distinct tokens at the same absolute counts, e.g.
    * the disjoint-union ×10 audit corpus, where every replica suffixes
    * its vocabulary), the map must grow with the dilution factor to keep
    * nominating the same absolute-count items. In a natural scale-up
    * (shares preserved) the default holds at any n. Same conf-driven
    * geometry pattern as `spark.graft.ann.planes` (E76). */
  private[graft] def fiMaxMap(spark: SparkSession): Int =
    spark.conf.get("spark.graft.fi.maxMap", "1024").toInt

  val queries: Map[String, Q] = Map(
    "hll_sketch_union" -> (hllUserSketches _),
    "hll_sketch_persist" -> (hllSketchPersist _),
    "kll_quantile_merge" -> (kllQuantileMerge _),
    "theta_user_set_ops" -> (thetaUserSetOps _),
    "fi_topk_merge" -> (fiTopkMerge _))

  // The DataSketches tiers are approximate by semantics — no DuckDB hash
  // oracle (rows-only check); bounded against the exact twins in
  // APPROX_BOUNDS.json and SketchTierSpec / VariantSketchSpec. The
  // frequent-items tier is the exception: its sketch only NOMINATES
  // candidates and exact counts decide, so it hash-oracles like any
  // deterministic query.
  val oracle: Map[String, String] = Map(
    "fi_topk_merge" ->
      """WITH tk AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS n FROM tk
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin)
}
