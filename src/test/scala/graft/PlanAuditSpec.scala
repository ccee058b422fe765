package graft

import org.apache.spark.sql.functions._

/** Plan audits for the two properties that matter most at 100 TB: column
  * pruning and predicate pushdown must actually reach the parquet scan
  * (O14; SURVEY §2a). String-level assertions over the executed plan keep
  * these from silently regressing when queries are refactored. */
class PlanAuditSpec extends SparkSpec {

  /** AQE's wrapper plan elides scan details and codegen spans until
    * execution; audits read the non-adaptive physical plan. */
  private def planOf(name: String): String = {
    val adaptiveWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try q(name).queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", adaptiveWas)
  }

  test("scan_project prunes the scan to exactly the projected columns") {
    val plan = planOf("scan_project")
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$plan"))
    val cols = readSchema.split(",").map(_.split(":")(0).trim).toSet
    assert(cols === Set("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      s"scan reads more than the projection: $cols")
  }

  test("filter_predicate pushes both predicates into the scan") {
    val plan = planOf("filter_predicate")
    // the rendered filter list is truncated at toString's field limit, so
    // match the line prefix rather than a closing bracket
    val pushed = "PushedFilters: \\[([^\\r\\n]*)".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse(fail(s"no PushedFilters in:\n$plan"))
    assert(pushed.contains("EqualTo(l_returnflag,R)"), s"flag filter not pushed: $pushed")
    assert(pushed.contains("GreaterThan(l_quantity"), s"quantity filter not pushed: $pushed")
  }

  test("group_agg keeps whole-stage codegen through the partial aggregate") {
    val plan = planOf("group_agg")
    // codegen stages render as "*(n) " prefixes in the compact plan string
    assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation in:\n$plan")
  }

  test("revenue_by_nation broadcasts the dimension chain, never nests loops") {
    val plan = planOf("revenue_by_nation")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested-loop/cartesian join in:\n$plan")
    // the dim keys must never be shuffle-partitioning keys (dims broadcast)
    assert(!"Exchange hashpartitioning\\([^)]*n_nationkey".r.findFirstIn(plan).isDefined &&
      !"Exchange hashpartitioning\\([^)]*r_regionkey".r.findFirstIn(plan).isDefined,
      s"dimension join shuffled instead of broadcast in:\n$plan")
  }

  test("late_ship_priority plans the EXISTS as a semi join") {
    val plan = planOf("late_ship_priority")
    assert(plan.contains("LeftSemi"), s"no semi join in:\n$plan")
    // the range predicate rides the join; no post-join filter stage needed
    assert(plan.contains("l_shipdate") && plan.contains("o_orderdate"),
      s"date condition missing from plan:\n$plan")
  }

  test("unigram_lm_score broadcasts the vocabulary; corpus side never repartitions on token") {
    val plan = planOf("unigram_lm_score")
    assert(plan.contains("BroadcastHashJoin"), s"vocab join not broadcast in:\n$plan")
    // the doc-side token stream must not be exchange-partitioned by token;
    // the only token-keyed exchange allowed is building the (tiny) vocab
    // a ReusedExchange line restates the original exchange after a comma —
    // count only tree-node occurrences ("+- Exchange ...") as real shuffles
    val tokenExchanges = "- Exchange hashpartitioning\\(token".r.findAllIn(plan).length
    val reused = "ReusedExchange".r.findAllIn(plan).length
    assert(tokenExchanges <= 1, s"corpus shuffled by token in:\n$plan")
    assert(reused >= 1, s"vocabulary exchange not reused for the total in:\n$plan")
  }

  test("tfidf_top_terms plans the per-doc top-3 as the TopKPerKey heap, not a window sort") {
    val plan = planOf("tfidf_top_terms")
    assert(plan.contains("TopKPerKey"), s"rewrite rule did not fire in:\n$plan")
    assert(!plan.contains("Window"), s"window sort survived the rewrite in:\n$plan")
  }

  test("join_bucketed joins bucket-aligned files with no exchange and no sort") {
    // at fixture SF the build side fits the broadcast threshold (also a
    // fine, exchange-free plan); disable broadcast to pin the bucket
    // alignment the layout is FOR — the merge join both sides feed
    // without shuffling or sorting at any size
    // sort-order propagation from bucket-sorted scans is opt-in (it needs
    // one file per bucket, which the write guarantees via repartition)
    val thrWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val plan = try planOf("join_bucketed")
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thrWas)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    }
    assert(plan.contains("SortMergeJoin"), s"no sort-merge join in:\n$plan")
    // the join key must not be shuffled — bucketing pre-partitioned it at
    // write time; the only exchange allowed is the final status group-by
    assert(!"Exchange hashpartitioning\\([^)]*o_orderkey".r.findFirstIn(plan).isDefined,
      s"bucketed join still shuffles on the key:\n$plan")
    // bucket-sorted files also satisfy the merge-join sort requirement
    assert(!"\\+- \\*?\\(?\\d*\\)? ?Sort \\[o_orderkey".r.findFirstIn(plan).isDefined,
      s"bucketed join re-sorts pre-sorted buckets:\n$plan")
  }

  test("pii_redact is a pure narrow map (no hash-partition exchange)") {
    val plan = planOf("pii_redact")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"redaction introduced a shuffle in:\n$plan")
  }

  test("scd2_intervals is one window pass: a single exchange on the natural key") {
    val plan = planOf("scd2_intervals")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected exactly one key shuffle, got $exchanges in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"successor computed via join instead of lead() window:\n$plan")
  }

  test("partial_agg_merge keeps map-side partial aggregation at both levels") {
    val plan = planOf("partial_agg_merge")
    assert(plan.contains("partial_"), s"no partial aggregation in:\n$plan")
    // two grouping levels -> exactly two hash exchanges (shard level, final level)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 2, s"expected two aggregate exchanges, got $exchanges in:\n$plan")
  }

  test("merge_upsert scans base and updates once each — no re-read per branch") {
    val plan = planOf("merge_upsert")
    assert("FileScan parquet".r.findAllIn(plan).length <= 2,
      s"branch tagging re-scanned an input in:\n$plan")
    assert(plan.contains("FullOuter"), s"MERGE shape lost (no full-outer join) in:\n$plan")
  }

  test("graph_triangles never broadcasts the edge set or nests loops over it") {
    val plan = planOf("graph_triangles")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the only BNLJs permitted are the three single-row aggregate combines
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 2, s"edge-set nested loop in:\n$plan")
  }

  test("pq_encode is a pure narrow map until the diagnostic sort") {
    val plan = planOf("pq_encode")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"PQ encoding introduced a shuffle in:\n$plan")
    assert(!plan.contains("Join"), s"PQ encoding introduced a join in:\n$plan")
  }

  test("outlier_zscore broadcasts the stats table back over the fact") {
    val plan = planOf("outlier_zscore")
    assert(plan.contains("BroadcastHashJoin"),
      s"stats join not broadcast in:\n$plan")
    // the fact meets the stats through the broadcast join only; the one
    // permitted merge join is the final segment-cardinality combine of
    // the two 5-row aggregate outputs (no fact rows flow through it)
    val segJoins = "SortMergeJoin \\[segment".r.findAllIn(plan).length
    assert(segJoins <= 1, s"fact shuffle-joined against segment stats in:\n$plan")
  }

  test("attribution_touch computes both models in one window pass and one agg shuffle") {
    val plan = planOf("attribution_touch")
    // one user_id exchange (the window), one channel exchange (the agg)
    val userEx = "- Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    val chanEx = "- Exchange hashpartitioning\\(channel".r.findAllIn(plan).length
    assert(userEx === 1, s"expected one user window exchange, got $userEx in:\n$plan")
    assert(chanEx === 1, s"expected one channel agg exchange, got $chanEx in:\n$plan")
    assert(!plan.contains("Join"), s"attribution joined instead of windowed:\n$plan")
  }

  test("cdc_apply applies the changelog through one full-outer join, no rescans") {
    val plan = planOf("cdc_apply")
    assert(plan.contains("FullOuter"), s"no full-outer apply join in:\n$plan")
    // base scanned once, changelog (orders) scanned twice (U/D rows + inserts)
    assert("FileScan parquet".r.findAllIn(plan).length <= 3,
      s"extra input rescans in:\n$plan")
  }

  test("promo_share aggregates numerator and denominator in a single grouped pass") {
    val plan = planOf("promo_share")
    assert(plan.contains("partial_"), s"no map-side partial aggregation in:\n$plan")
    // one month exchange: both sums ride the same aggregate
    val monthEx = "- Exchange hashpartitioning\\(month".r.findAllIn(plan).length
    assert(monthEx === 1, s"expected one month exchange, got $monthEx in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join shape in:\n$plan")
  }

  test("hopping_window explodes map-side (Expand) into one agg exchange — no grid join") {
    val plan = planOf("hopping_window")
    assert(plan.contains("Expand"), s"no map-side window explode in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial aggregation in:\n$plan")
    assert(!plan.contains("Join"), s"window assignment joined instead of expanded:\n$plan")
    val hashEx = "- Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx === 1, s"expected one hash exchange, got $hashEx in:\n$plan")
  }

  test("gaps_islands runs in a single user exchange, no window pass") {
    val plan = planOf("gaps_islands")
    val userEx = "- Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    val hashEx = "- Exchange hashpartitioning".r.findAllIn(plan).length
    assert(userEx === 1 && hashEx === 1,
      s"expected exactly one user_id exchange, got $hashEx in:\n$plan")
    assert(!plan.contains("Window"), s"island scan fell back to a window sort:\n$plan")
  }

  test("cohort_retention shuffles the user grid once; cohort agg rides the tiny key") {
    val plan = planOf("cohort_retention")
    val userEx = "- Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(userEx === 1, s"expected one user_id exchange, got $userEx in:\n$plan")
    val cohortEx = "- Exchange hashpartitioning\\(cohort".r.findAllIn(plan).length
    assert(cohortEx === 1, s"expected one cohort exchange, got $cohortEx in:\n$plan")
    assert(!plan.contains("Window"), s"cohort min fell back to a window pass:\n$plan")
  }

  test("market_basket: pairs explode in-row off one reused basket exchange — no pair join") {
    val plan = planOf("market_basket")
    assert(!plan.contains("CartesianProduct"), s"cartesian pair join in:\n$plan")
    // basket building is the only lineitem-keyed exchange that feeds pairs
    // AND item counts (the second consumer must reuse, not re-shuffle)
    assert(plan.contains("Generate explode(flatten(transform"),
      s"pairs not generated in-row in:\n$plan")
    assert(plan.contains("ReusedExchange"), s"basket exchange not reused in:\n$plan")
    // no shuffle join on the order key (the self-join formulation's shape)
    assert(!"SortMergeJoin \\[ok".r.findFirstIn(plan).isDefined,
      s"pair space built by an order-key join in:\n$plan")
  }

  test("fuzzy_name_pairs: blocking is join-free — one masked-key exchange, in-row pairs") {
    val plan = planOf("fuzzy_name_pairs")
    assert(!plan.contains("Join"), s"blocked matcher planned a join in:\n$plan")
    val keyEx = "- Exchange hashpartitioning\\(pos[^,]*, k".r.findAllIn(plan).length
    assert(keyEx === 1, s"expected one (pos, key) exchange, got $keyEx in:\n$plan")
    assert(plan.contains("levenshtein"), s"verify filter missing from:\n$plan")
  }

  test("brand_skyline: both window minimums ride ONE brand exchange") {
    val plan = planOf("brand_skyline")
    val hashEx = "- Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx === 1, s"expected one hash exchange, got $hashEx in:\n$plan")
    val windows = "\\+- Window ".r.findAllIn(plan).length
    assert(windows === 2, s"expected two window passes, got $windows in:\n$plan")
    assert(!plan.contains("Join"), s"skyline fell back to a join in:\n$plan")
  }

  test("ewma_daily: all seven lags share one window pass") {
    val plan = planOf("ewma_daily")
    val windows = "\\+- Window ".r.findAllIn(plan).length
    assert(windows === 1, s"expected one window pass, got $windows in:\n$plan")
    val hashEx = "- Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx === 2, s"expected daily-agg + window exchanges, got $hashEx in:\n$plan")
    assert(plan.contains("partial_"), s"daily counts not map-side combined in:\n$plan")
  }

  test("unicode_nfc: native expression keeps the narrow map in one codegen span") {
    val plan = planOf("unicode_nfc")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"narrow map shuffled in:\n$plan")
    assert(plan.contains("nfc_normalize"), s"native expression missing from:\n$plan")
    assert(plan.contains("*(1) Project"), s"projection left codegen in:\n$plan")
  }

  test("vocab_coverage: top-100 cut is a distributed TakeOrdered, not a global sort") {
    val plan = planOf("vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject(limit=100"),
      s"top-k fell back to a global sort in:\n$plan")
    val tokenEx = "- Exchange hashpartitioning\\(token".r.findAllIn(plan).length
    assert(tokenEx === 1, s"token counts shuffled twice in:\n$plan")
    assert(plan.contains("ReusedExchange"),
      s"corpus total re-aggregated from scratch in:\n$plan")
  }

  test("exact_median_groups: both windows share one group-key exchange; nothing global") {
    val plan = planOf("exact_median_groups")
    val hashEx = "- Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx === 1, s"expected one hash exchange, got $hashEx in:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"median funneled through one partition in:\n$plan")
  }

  test("yoy_growth: the year-lag window is calendar-month partitioned, never global") {
    val plan = planOf("yoy_growth")
    assert(!plan.contains("Exchange SinglePartition"),
      s"lag window funneled through one partition in:\n$plan")
    // the window spec must carry a partition key (the derived month-of-year)
    assert("windowspecdefinition\\(_w".r.findFirstIn(plan).isDefined,
      s"lag window lost its partition spec in:\n$plan")
  }

  test("graph_local_cc never broadcasts the edge set or nests loops over it") {
    val plan = planOf("graph_local_cc")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested-loop/cartesian join in:\n$plan")
  }

  test("bm25_rank: scoring is a narrow map over broadcast stats; top-50 is TakeOrdered") {
    val plan = planOf("bm25_rank")
    // the ONLY data movement is the 1-row corpus-stats gather: the fact
    // side is never hash-repartitioned, and no shuffle join appears
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fact side repartitioned in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"shuffle join in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"global sort for top-50 in:\n$plan")
  }

  test("inverted_index: postings build in exactly one token exchange") {
    val plan = planOf("inverted_index")
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n === 1, s"expected 1 token exchange, got $n in:\n$plan")
    assert(plan.contains("partial_"), s"no map-side partial collect in:\n$plan")
  }

  test("mad_outliers: med/MAD rejoin the fact via broadcast, never a shuffle join") {
    val plan = planOf("mad_outliers")
    assert(plan.contains("BroadcastHashJoin"), s"stats join not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"shuffle join in:\n$plan")
  }

  test("rolling_dau: bounded explode, broadcast day-bound, no shuffle join") {
    val plan = planOf("rolling_dau")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"shuffle join in:\n$plan")
    // the max-day bound is a 1-row broadcast (nested-loop over one row is fine)
    assert(plan.contains("BroadcastNestedLoopJoin"), s"day bound not broadcast in:\n$plan")
  }

  test("pmi_bigrams: corpus scanned once — marginals and total roll up from bigram counts") {
    val plan = planOf("pmi_bigrams")
    // the one corpus scan happens when the bigram-counts table
    // materializes (eagerCheckpoint); the final plan must contain NO
    // parquet re-scan — every branch rides the checkpointed counts
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 0, s"corpus re-scanned $scans times in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("map_ops: pure two-level aggregation — no joins anywhere") {
    val plan = planOf("map_ops")
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
  }

  test("negative_sample: positives excluded via an anti join, candidates map-side") {
    val plan = planOf("negative_sample")
    assert(plan.contains("LeftAnti"), s"no anti join in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("winsorize: one segment window; bounds rejoin via broadcast") {
    val plan = planOf("winsorize")
    assert(plan.contains("BroadcastHashJoin"), s"bounds join not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"shuffle join in:\n$plan")
  }

  test("interval_overlap_join: bin equi-join, never a nested-loop theta join") {
    val plan = planOf("interval_overlap_join")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the only nested-loop allowed is the 1-row bounds broadcast that
    // seeds the window grid; the session⋈window match itself must be a
    // hash/merge join on the bin key
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"no keyed join in:\n$plan")
  }

  test("decontaminate_prefilter: both branches ride ONE checkpointed fingerprint pass") {
    val plan = planOf("decontaminate_prefilter")
    // the corpus fingerprint (md5 over sorted distinct tokens — the
    // dominant scan+map cost at 100 TB) is checkpointed, so the final
    // plan's only parquet scans are the two small eval-set branches;
    // the corpus reappears as an ExistingRDD scan, computed once
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 2, s"corpus fingerprint recomputed — $scans parquet scans in:\n$plan")
    assert(plan.contains("ExistingRDD"), s"no checkpointed corpus in:\n$plan")
  }

  test("tfidf_doc_sim: all four derivations ride the checkpointed weights — no re-scan") {
    val plan = planOf("tfidf_doc_sim")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 0, s"corpus re-scanned $scans times in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("sql_q18_toporders: IN-subquery plans as semi join, customer broadcasts, top-100 is TakeOrdered") {
    val plan = planOf("sql_q18_toporders")
    assert(plan.contains("LeftSemi"), s"IN-subquery not decorrelated to a semi join in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"customer join not broadcast in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"limit not TakeOrdered in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("sql_q17_avgyearly: correlated scalar subquery decorrelates — no nested loop") {
    val plan = planOf("sql_q17_avgyearly")
    // the per-part average must become a grouped aggregate joined back on
    // the part key, not a per-row subquery re-execution
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"correlated subquery not decorrelated in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"no keyed join in:\n$plan")
    assert("HashAggregate[^\\n]*l_partkey".r.findFirstIn(plan).isDefined,
      s"no per-part aggregate for the threshold in:\n$plan")
  }

  test("sql_q20_promosupp: two-key correlated subquery under nested IN decorrelates — no nested loop") {
    val plan = planOf("sql_q20_promosupp")
    // the per-(part,supplier) total must become a grouped aggregate joined
    // back on BOTH correlation keys; the INs fold into semi joins
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"correlated subquery not decorrelated in:\n$plan")
    assert(plan.contains("LeftSemi"), s"IN-subquery not a semi join in:\n$plan")
    assert("HashAggregate[^\\n]*l_suppkey[^\\n]*l_partkey".r.findFirstIn(plan).isDefined ||
      "HashAggregate[^\\n]*l_partkey[^\\n]*l_suppkey".r.findFirstIn(plan).isDefined,
      s"no (supp,part)-grouped aggregate for the threshold in:\n$plan")
  }

  test("sql_q22_nourgent: NOT IN plans as a null-aware anti join, scalar average broadcasts — no nested loop") {
    val plan = planOf("sql_q22_nourgent")
    // single-column NOT IN must become Spark's null-aware broadcast hash
    // anti join (three-valued-logic check folded into the hash probe),
    // never a per-row BroadcastNestedLoopJoin re-execution. The NAAJ flag
    // renders as a trailing bare `true` in BroadcastHashJoinExec's
    // simpleString (isNullAwareAntiJoin), after LeftAnti + BuildRight.
    assert(
      "BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftAnti, BuildRight, true"
        .r.findFirstIn(plan).isDefined,
      s"NOT IN not planned as a null-aware anti join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested loop in:\n$plan")
    // the uncorrelated scalar average is a one-row subquery result reused
    // as a literal — no join against the threshold
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      s"scalar threshold not a subquery broadcast in:\n$plan")
  }

  test("sql_q21_waiting: EXISTS/NOT EXISTS with non-equi residuals plan as semi/anti hash joins — no nested loop") {
    val plan = planOf("sql_q21_waiting")
    // both correlated subqueries must decorrelate into hash-family joins
    // keyed on l_orderkey, with the `l_suppkey <>` inequality carried as
    // the join's residual CONDITION — never a per-outer-row
    // BroadcastNestedLoopJoin re-execution of lineitem
    assert(plan.contains("LeftSemi"), s"EXISTS not a semi join in:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS not an anti join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"correlated EXISTS not decorrelated in:\n$plan")
    // the supplier-inequality residual must ride the join itself
    assert("(LeftSemi|LeftAnti)[^\\n]*NOT[^\\n]*l_suppkey".r.findFirstIn(plan).isDefined ||
      "(LeftSemi|LeftAnti)[^\\n]*l_suppkey[^\\n]*(!=|NOT)".r.findFirstIn(plan).isDefined,
      s"suppkey inequality not in the join condition in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"limit not TakeOrdered in:\n$plan")
  }

  test("pipeline_e2e: six stages fuse into one plan — broadcast decon anti-join, no cartesian, bounded exchanges") {
    val plan = planOf("pipeline_e2e")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop in the composed pipeline:\n$plan")
    // decontamination must be the broadcast anti-join (eval set is tiny)
    assert("BroadcastHashJoin[^\\n]*LeftAnti".r.findFirstIn(plan).isDefined,
      s"decontamination not a broadcast anti join in:\n$plan")
    // the chain's corpus-sized exchanges are the dedup digest window and
    // the packing group window; the accounting aggregate adds small ones
    // — but a composition bug (e.g. a lost partitioning reuse) shows up
    // as exchange inflation, so pin a ceiling
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 7, s"$exchanges exchanges in the composed plan:\n$plan")
  }

  test("nested_extract: schema pruning narrows the scan to the touched struct leaf") {
    val plan = planOf("nested_extract")
    // the ReadSchema must carry the year leaf but NOT the fat payload
    // sibling — nested pruning pushes the projection INTO the struct
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(read.contains("year"), s"year leaf missing from scan schema: $read")
    assert(!read.contains("payload") && !read.contains("priority"),
      s"fat sibling leaves not pruned from the scan: $read")
  }

  test("sql_q4_prioritycheck: EXISTS with an outer-column comparison decorrelates into one semi join") {
    val plan = planOf("sql_q4_prioritycheck")
    // the subquery correlates on the order key AND compares l_shipdate
    // against the OUTER o_orderdate; both must land in ONE left-semi hash
    // join (key equality + date residual in the condition), never a
    // per-order re-execution or a nested loop
    assert(plan.contains("LeftSemi"), s"EXISTS not a semi join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"outer-column EXISTS not decorrelated in:\n$plan")
    assert("(LeftSemi)[^\\n]*(o_orderdate|l_shipdate)".r.findFirstIn(plan).isDefined,
      s"the outer-date comparison must ride the semi-join condition in:\n$plan")
    // the date range on orders is a pushed scan filter, not a post-join one
    assert("PushedFilters: \\[[^\\n]*o_orderdate".r.findFirstIn(plan).isDefined,
      s"order-date range not pushed to the orders scan in:\n$plan")
  }

  test("sql_q11_importantparts: HAVING over global scalars evaluates each scalar once") {
    val plan = planOf("sql_q11_importantparts")
    // the two uncorrelated scalar aggregates must be 1-row subqueries
    // injected into the post-aggregation filter — never a join against
    // the corpus-sized group table and never a nested loop
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      s"global threshold not a scalar subquery in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested loop in:\n$plan")
    // the group-side aggregate keeps map-side partials (partial + final)
    assert("HashAggregate[^\\n]*partial".r.findFirstIn(plan.toLowerCase).isDefined ||
      plan.contains("partial_sum") || plan.contains("partial"),
      s"group aggregate lost its map-side partial in:\n$plan")
  }

  test("sql_q15_topsupplier: CTE referenced twice plans the scalar MAX as a 1-row aggregate") {
    val plan = planOf("sql_q15_topsupplier")
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      s"global MAX not a scalar subquery in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested loop in:\n$plan")
    // the revenue relation's grouped aggregate is the only corpus-sized
    // work; the shipdate window must reach the lineitem scan
    assert("PushedFilters: \\[[^\\n]*l_shipdate".r.findFirstIn(plan).isDefined,
      s"shipdate range not pushed to the lineitem scan in:\n$plan")
  }

  test("sql_q6_forecast: pure scan-predicate aggregate — every predicate pushed, no join, no wide shuffle") {
    val plan = planOf("sql_q6_forecast")
    assert(!plan.contains("Join"), s"Q6 must not join in:\n$plan")
    // all three predicates reach the parquet scan
    assert("PushedFilters: \\[[^\\n]*l_shipdate".r.findFirstIn(plan).isDefined &&
      "DataFilters: \\[[^\\n]*l_discount".r.findFirstIn(plan).isDefined &&
      "DataFilters: \\[[^\\n]*l_quantity".r.findFirstIn(plan).isDefined,
      s"Q6 predicates not pushed in:\n$plan")
    // only the 1-row gather exchange — never a hash repartition
    assert(!plan.contains("Exchange hashpartitioning"),
      s"Q6 grew a wide shuffle in:\n$plan")
  }

  test("sql_q7_volumeshipping: per-alias nation disjunction pushed into BOTH dimension scans") {
    val plan = planOf("sql_q7_volumeshipping")
    // the symmetric two-arm OR implies n_name IN (A,B) on EACH alias —
    // either both tiny nation scans carry it, or (better) the planner
    // notices the two filtered subplans are identical and REUSES one
    // broadcast exchange for both roles
    val pushed = "DataFilters: \\[[^\\n]*NATION_1\\) OR \\(n_name[^\\n]* = NATION_2".r
      .findAllIn(plan).size
    assert(pushed >= 2 || (pushed == 1 && plan.contains("ReusedExchange")),
      s"per-alias nation disjunction not pushed/reused on both scans in:\n$plan")
    // the cross-arm residual evaluates on a join, not a post-join filter
    assert("BroadcastHashJoin [^\\n]*NATION_1[^\\n]*NATION_2".r.findFirstIn(plan).isDefined,
      s"cross-arm residual not on the join in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop in:\n$plan")
  }

  test("sql_q8_marketshare: one pass computes both share sums; region filter prunes the customer side") {
    val plan = planOf("sql_q8_marketshare")
    // numerator CASE and denominator ride the SAME partial aggregate
    assert("partial_sum\\(CASE WHEN [^\\n]*NATION_3[^\\n]*partial_sum\\(volume".r
      .findFirstIn(plan).isDefined,
      s"share sums split across passes in:\n$plan")
    assert("DataFilters: \\[[^\\n]*r_name[^\\n]* = ASIA".r.findFirstIn(plan).isDefined,
      s"region filter not pushed in:\n$plan")
    assert("DataFilters: \\[[^\\n]*p_type[^\\n]* = PROMO".r.findFirstIn(plan).isDefined,
      s"part-type filter not pushed in:\n$plan")
  }

  test("sql_q9_productprofit: contains-LIKE evaluates as a pushed scan filter") {
    val plan = planOf("sql_q9_productprofit")
    // %red% cannot become a range; it must still reach the part scan as a
    // Contains data filter, not a post-join residual
    assert("DataFilters: \\[[^\\n]*Contains\\(p_name#\\d+, red\\)".r.findFirstIn(plan).isDefined,
      s"contains-LIKE not a scan filter in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nested loop in:\n$plan")
  }

  test("sql_q10_returneditems: top-20 is TakeOrdered; flag and date ranges reach their scans") {
    val plan = planOf("sql_q10_returneditems")
    assert(plan.contains("TakeOrderedAndProject(limit=20"),
      s"limit not TakeOrdered in:\n$plan")
    assert("DataFilters: \\[[^\\n]*l_returnflag[^\\n]* = R".r.findFirstIn(plan).isDefined,
      s"return-flag not pushed in:\n$plan")
    assert("DataFilters: \\[[^\\n]*o_orderdate".r.findFirstIn(plan).isDefined,
      s"quarter window not pushed in:\n$plan")
  }

  test("sql_q12_shippriority: non-equi lateness residual rides the equi join; CASE counts stay map-side") {
    val plan = planOf("sql_q12_shippriority")
    assert("BroadcastHashJoin \\[o_orderkey[^\\n]*l_shipdate[^\\n]*> o_orderdate".r
      .findFirstIn(plan).isDefined,
      s"lateness residual not on the join condition in:\n$plan")
    assert("partial_sum\\(CASE WHEN o_orderpriority".r.findFirstIn(plan).isDefined,
      s"priority-class counts not in the map-side partial in:\n$plan")
    assert("DataFilters: \\[[^\\n]*l_shipdate".r.findFirstIn(plan).isDefined,
      s"ship-date range not pushed in:\n$plan")
  }

  test("sql_q13_custdist: outer-join ON-filter pushes to the orders scan, never below the join") {
    val plan = planOf("sql_q13_custdist")
    // the priority predicate lives in the LEFT OUTER's ON clause; the only
    // legal push is into the null-supplying (orders) SCAN — customers with
    // no qualifying orders must survive as the 0 bin
    assert(plan.contains("LeftOuter"), s"not an outer join in:\n$plan")
    assert("PushedFilters: \\[[^\\n]*o_orderpriority".r.findFirstIn(plan).isDefined,
      s"ON-clause filter not pushed to the orders scan in:\n$plan")
    // double aggregation: per-customer count, then the histogram — two
    // grouped HashAggregate pairs, and COUNT(o_orderkey) (null-skipping),
    // not COUNT(1), on the inner level
    assert("HashAggregate\\(keys=\\[c_custkey[^\\n]*count\\(o_orderkey".r
      .findFirstIn(plan).isDefined,
      s"inner count must be over o_orderkey (null-extension → 0 bin) in:\n$plan")
    assert("HashAggregate\\(keys=\\[c_count[^\\n]*count\\(1\\)".r.findFirstIn(plan).isDefined,
      s"histogram aggregate missing in:\n$plan")
  }

  test("sql_q14_promoeffect: conditional sum keeps map-side partials; month filter reaches the fact scan") {
    val plan = planOf("sql_q14_promoeffect")
    // the CASE rides INSIDE the partial aggregate (one pass computes both
    // sums), part broadcasts, and the month window is a scan filter
    assert("partial_sum\\(CASE WHEN".r.findFirstIn(plan).isDefined,
      s"conditional sum not in the map-side partial in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"part not broadcast in:\n$plan")
    assert("PushedFilters: \\[[^\\n]*l_shipdate".r.findFirstIn(plan).isDefined,
      s"month window not pushed to the lineitem scan in:\n$plan")
  }

  test("sql_q16_partsuppliers: NOT IN plans as a broadcast NULL-AWARE anti join") {
    val plan = planOf("sql_q16_partsuppliers")
    // NOT IN is three-valued; the planner may only use an anti join if it
    // is null-AWARE — Spark spells that as the trailing `true` flag on the
    // broadcast LeftAnti (isNullAwareAntiJoin)
    assert("BroadcastHashJoin [^\\n]*LeftAnti, BuildRight, true".r
      .findFirstIn(plan).isDefined,
      s"NOT IN not a null-aware broadcast anti join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"NOT IN degenerated to a nested loop in:\n$plan")
    // COUNT(DISTINCT) expands to the two-level plan: dedup on
    // (group keys, suppkey), then count — both grouped, both partial-first
    assert("HashAggregate\\(keys=\\[p_brand[^\\n]*l_suppkey[^\\]]*\\], functions=\\[\\]".r
      .findFirstIn(plan).isDefined,
      s"distinct-expansion dedup aggregate missing in:\n$plan")
    assert("PushedFilters: \\[[^\\n]*s_acctbal".r.findFirstIn(plan).isDefined,
      s"exclusion-set predicate not pushed to the supplier scan in:\n$plan")
  }

  test("sql_q19_discountedrev: OR-of-ANDs pushes per-side disjunctions below the join") {
    val plan = planOf("sql_q19_discountedrev")
    // each arm constrains both sides; the extraction the plan must show:
    // the lineitem scan carries the quantity-range disjunction, the part
    // scan carries the brand/size disjunction, and the full residual rides
    // the join condition — both inputs shrink BEFORE the join
    assert("FileScan parquet \\[l_partkey[^\\n]*PushedFilters: \\[[^\\n]*Or\\(Or\\(And\\(GreaterThanOrEqual\\(l_quantity".r
      .findFirstIn(plan).isDefined,
      s"quantity disjunction not pushed to the fact scan in:\n$plan")
    assert("FileScan parquet \\[p_partkey[^\\n]*PushedFilters: \\[[^\\n]*p_brand".r
      .findFirstIn(plan).isDefined
      || "PushedFilters: \\[[^\\n]*EqualTo\\(p_brand".r.findFirstIn(plan).isDefined,
      s"brand/size disjunction not pushed to the part scan in:\n$plan")
    assert("BroadcastHashJoin \\[l_partkey[^\\n]*Brand#".r.findFirstIn(plan).isDefined,
      s"full residual must ride the join condition in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"disjunctive join degenerated to a nested loop in:\n$plan")
  }

  test("sql_q2_mincost: correlated MIN with joins inside decorrelates through the join chain — no nested loop") {
    val plan = planOf("sql_q2_mincost")
    // the correlated scalar subquery carries its own join chain; Catalyst
    // must rewrite it into a per-part grouped MIN joined back on the part
    // key — never a per-outer-row re-execution of the inner three-way join
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"correlated join-subquery not decorrelated in:\n$plan")
    assert("HashAggregate[^\\n]*min".r.findFirstIn(plan).isDefined,
      s"no grouped MIN for the threshold in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"limit not TakeOrdered in:\n$plan")
  }

  test("join_null_safe: <=> stays a hash-family join, never a nested loop") {
    val plan = planOf("join_null_safe")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"null-safe join degenerated to a nested loop in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"no keyed join in:\n$plan")
  }

  test("pivot_multi: two-level aggregate with partials at both, no row expand") {
    val plan = planOf("pivot_multi")
    // Spark plans pivot as (1) a grouped aggregate on the compound
    // (group, pivot) key, then (2) a pivotfirst gather on the group key
    // — both with map-side partials, so the raw volume crosses the wire
    // pre-combined and the second exchange carries |groups|×|values|
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 2, s"expected the 2-level pivot shape, got $exchanges in:\n$plan")
    assert(plan.contains("partial_count"), s"no map-side count partials in:\n$plan")
    assert(plan.contains("partial_pivotfirst"), s"no map-side pivot partials in:\n$plan")
    assert(!plan.contains("Expand"), s"pivot expanded rows in:\n$plan")
  }

  test("chi2_type_dow and entropy_segments scan events exactly once") {
    for (name <- Seq("chi2_type_dow", "entropy_segments")) {
      val plan = planOf(name)
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans === 1, s"$name scans events $scans times in:\n$plan")
      assert(plan.contains("partial_"), s"$name lost map-side partials in:\n$plan")
    }
  }

  test("seasonal_anomaly: baseline/rank windows ride the daily table, one raw-event exchange") {
    val plan = planOf("seasonal_anomaly")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"events scanned $scans times in:\n$plan")
    // no window may repartition the raw (pre-aggregate) volume: every
    // exchange below the first aggregate is on the daily table's keys
    assert(!plan.contains("SinglePartition") ||
      !"Exchange SinglePartition[^\\n]*\\n[^\\n]*Scan parquet".r.findFirstIn(plan).isDefined,
      s"raw events funneled to one partition in:\n$plan")
    assert(plan.contains("partial_"), s"daily aggregate lost map-side partials in:\n$plan")
  }

  test("sql_q3_shipping: SQL text gets the same physical treatment as the API") {
    val plan = planOf("sql_q3_shipping")
    assert(plan.contains("BroadcastHashJoin"), s"dimension join not broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    val pushed = "PushedFilters: \\[([^\\r\\n]*)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pushed.exists(_.contains("GreaterThan(l_shipdate")),
      s"shipdate predicate not pushed to the lineitem scan: $pushed")
    assert(pushed.exists(_.contains("EqualTo(c_mktsegment,BUILDING)")),
      s"segment predicate not pushed to the customer scan: $pushed")
  }

  test("dedup_semantic building blocks: broadcast assign; blocked pair join, never a product") {
    // the final query's executedPlan starts AFTER the CC checkpoints, so
    // the two stages that carry the scale story are pinned directly.
    // Cache state from earlier suites (dedup_semantic persists its
    // assign internally) would plan-fragment-match `assigned` into an
    // InMemoryTableScan and hide the BroadcastExchange — clear it first
    spark.catalog.clearCache()
    val adaptiveWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val v = ops.SimOps.withNorm(Tables.embeddings(spark, sf))
      // the DEPLOYED assign: indexed two-level (semAssignScored resolves
      // the conf default) — super-centroids and super-cell centroid sets
      // are the BROADCAST sides of both levels; what must NOT appear is
      // a shuffle of the corpus against any centroid-derived table
      val assigned = ops.SimOps.semAssignScored(spark, v)
      val aPlan = assigned.queryExecution.executedPlan.toString
      assert(aPlan.contains("BroadcastExchange"),
        s"centroid tables not broadcast in:\n$aPlan")
      assert(!aPlan.contains("SortMergeJoin") && !aPlan.contains("ShuffledHashJoin"),
        s"assign shuffled the corpus against a centroid table in:\n$aPlan")
      // the corpus pays its vec_id exchange ONCE: the probe window and
      // the final argmin window share the key, and the broadcast join
      // between them preserves partitioning
      val corpusExchanges = "Exchange hashpartitioning\\(vec_id"
        .r.findAllIn(aPlan).length
      assert(corpusExchanges == 1,
        s"expected exactly one corpus-wide vec_id exchange, got $corpusExchanges in:\n$aPlan")
      // pair enumeration stays the blocked (cell, blockA, blockB)
      // shuffled equi-join — never a cartesian/BNLJ fallback. The op
      // persists `assigned` before enumerating (one assign pass feeds
      // pairs, labels and the keeper rank); mirror that so the pair
      // STAGE is what the plan shows, not a re-inlined assign.
      assigned.persist(); assigned.count()
      try {
        val pairs = ops.PairEnum.blockedSelfJoinPairs(
          assigned, Seq("cell"), "vec_id", Seq("embedding", "nrm"))
        val pPlan = pairs.queryExecution.executedPlan.toString
        assert(!pPlan.contains("CartesianProduct"),
          s"pair space degenerated to a product in:\n$pPlan")
        // InMemoryRelation nodes print their CACHED child plan, which
        // contains the assign's deliberate broadcast product — every
        // BNLJ occurrence must be attributable to one of those cached
        // descriptions, none to the pair stage itself
        // the indexed assign carries TWO deliberate broadcast products
        // per description (vectors×supers, centroids×supers)
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(pPlan).length
        val cached = "InMemoryRelation".r.findAllIn(pPlan).length
        assert(bnlj <= 2 * cached,
          s"a BNLJ outside the cached assign description in:\n$pPlan")
        assert(pPlan.contains("ShuffledHashJoin"),
          s"blocked pair join lost its shuffle_hash shape in:\n$pPlan")
      } finally assigned.unpersist()
    } finally spark.conf.set("spark.sql.adaptive.enabled", adaptiveWas)
  }

  test("hybrid_rrf_fuse: zero hash exchanges — both sides TakeOrdered, fusion on bounded lists") {
    val plan = planOf("hybrid_rrf_fuse")
    // the 100 TB claim IS this shape: the only corpus-sized work is two
    // narrow scans feeding TakeOrderedAndProject cuts; nothing ever
    // hash-repartitions
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a hash exchange appeared in the fusion plan:\n$plan")
    val takes = "TakeOrderedAndProject".r.findAllIn(plan).length
    assert(takes >= 2, s"expected both top-50 cuts as TakeOrdered, got $takes in:\n$plan")
  }

  test("ann_ivf_nprobe: the cell probe is a broadcast join over the index, never a sort-merge") {
    val plan = planOf("ann_ivf_nprobe")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-cells probe not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the bounded query side sort-merged the index table:\n$plan")
  }

  test("mmr_rerank: greedy stages are broadcast joins; no sort-merge of pool-bounded tables") {
    val plan = planOf("mmr_rerank")
    assert(!plan.contains("SortMergeJoin"),
      s"a pool-bounded greedy table sort-merged in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("ann_pq_adc_fitted: the probe scan stays narrow — codebook enters as literals") {
    val plan = planOf("ann_pq_adc_fitted")
    // the serving side must look like the fixed tier: no join between
    // the corpus scan and any codebook TABLE (the collected book is
    // folded into expressions), so the only joins are the broadcast
    // query table and the rerank's self-joins on the 20-row candidates
    assert(!plan.contains("SortMergeJoin"),
      s"a codebook/rerank table sort-merged in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("ann_ivfpq_fitted: serving is the fixed residual tier's plan — book as literals") {
    val plan = planOf("ann_ivfpq_fitted")
    // the fitted book is collected once (vocabulary-sized) and re-enters
    // as literals, so the probe plan must be the residual tier's shape:
    // broadcast cell join + broadcast centroid join, never a sort-merge
    // against a codebook table, never a cartesian
    assert(!plan.contains("SortMergeJoin"),
      s"a codebook/cell table sort-merged in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell probe not a broadcast join in:\n$plan")
  }

  test("ann_ivfpq_nprobe: multi-origin probe stays broadcast — book as literals, no cartesian") {
    val plan = planOf("ann_ivfpq_nprobe")
    // the nprobe composition must keep the fitted tier's serving shape:
    // the |queries|·nprobe query-table rows broadcast into the cell
    // join, the fitted book enters as literals (never a codebook-table
    // join), and no stage falls back to sort-merge or cartesian
    assert(!plan.contains("SortMergeJoin"),
      s"a codebook/cell table sort-merged in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell probe not a broadcast join in:\n$plan")
  }

  test("ann_ivfpq_persist: the at-rest probe partition-prunes the cell directories") {
    val plan = planOf("ann_ivfpq_persist")
    // the 100 TB claim made literal: the corpus-side scan of the
    // cell-partitioned codes index must carry a dynamic partition-pruning
    // expression on `cell` (the broadcast query side feeds it), so a
    // probe reads the probed cells' directories, not the corpus
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the cell-partitioned index in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"index sort-merged in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("ann_ivfpq_refine: the three-stage probe stays broadcast — both books as literals") {
    val plan = planOf("ann_ivfpq_refine")
    // both codebooks and the cross table enter as literal expressions —
    // no codebook-table join anywhere; the cell probe broadcasts the
    // query tables; refined scoring is lookup columns, not a join
    assert(!plan.contains("SortMergeJoin"),
      s"a codebook/cell table sort-merged in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell probe not a broadcast join in:\n$plan")
  }

  test("ann_ivfpq_persist_nprobe: the multi-cell at-rest probe still partition-prunes") {
    val plan = planOf("ann_ivfpq_persist_nprobe")
    // the 100 TB serving shape end-to-end: probing nprobe cells must
    // still reach the cell-partitioned index as a dynamic-pruning scan
    // (the query side's nprobe cells feed the pruning subquery), never
    // a full-index read, never a sort-merge or cartesian
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the multi-cell at-rest probe in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"index sort-merged in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("decontaminate_semantic: map-only over the corpus — no corpus hash exchange") {
    val plan = planOf("decontaminate_semantic")
    // the 100 TB claim: the eval set folds to one broadcast array row and
    // the per-vector max-cosine is computed in the map — the corpus never
    // hash-repartitions (the only Exchanges are the eval-side 1-row
    // gather and the output sort's range partitioning)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a corpus hash exchange appeared in the map-only decon plan:\n$plan")
    // the 1-row eval array crosses in as the deliberate broadcast idiom
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"eval array row not broadcast-crossed in:\n$plan")
  }

  test("ann_recall_eval: the probe/truth hit check is broadcast, never sort-merged") {
    val plan = planOf("ann_recall_eval")
    assert(!plan.contains("SortMergeJoin"),
      s"a 30-row eval side sort-merged in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("embed_lr_probe: gradient sums are partial-aggregated; the corpus never hash-shuffles") {
    // since r18 the GD steps run eagerly at build (each step's model is
    // collected and re-enters as literals), so the step's shape is
    // pinned on the step plan itself; the report plan keeps the
    // no-corpus-exchange / no-SMJ invariants
    val adaptiveWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val stepPlan =
      try graft.ops.SimOps.lrStepPlanProbe(spark, sf)
        .queryExecution.executedPlan.toString
      finally spark.conf.set("spark.sql.adaptive.enabled", adaptiveWas)
    // each GD step's only exchange carries 66-key partial LONG sums —
    // map-side combine must be present, and no exchange may be keyed on
    // the corpus id (the corpus is scanned, never repartitioned)
    assert("partial_sum\\(c#".r.findFirstIn(stepPlan).isDefined,
      s"no map-side partial sum over the gradient contribution column in:\n$stepPlan")
    assert(!"Exchange hashpartitioning\\([^)]*vec_id".r.findFirstIn(stepPlan).isDefined,
      s"corpus-keyed exchange in the GD step plan:\n$stepPlan")
    assert(!stepPlan.contains("SortMergeJoin"), s"model join sort-merged in:\n$stepPlan")
    val plan = planOf("embed_lr_probe")
    assert(!"Exchange hashpartitioning\\([^)]*vec_id".r.findFirstIn(plan).isDefined,
      s"corpus-keyed exchange in the report plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"model join sort-merged in:\n$plan")
  }

  test("hard_negatives: broadcast query set over the corpus scan, label filter in the join") {
    val plan = planOf("hard_negatives")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query set not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 10-row query side sort-merged the corpus in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("dedup_yield_curve: one prefix-filtered enumeration, no cartesian") {
    val plan = planOf("dedup_yield_curve")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
    // the candidate join must KEY on the hashed prefix token (a
    // hash-family join in any physical form — broadcast at fixture
    // stats, shuffled-on-tokh at scale; never a nested loop over docs)
    assert("(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \\[tokh".r
        .findFirstIn(plan).isDefined,
      s"prefix-token-keyed candidate join missing in:\n$plan")
  }

  test("pack_sequences: the packing running-sum window is PARTITIONED, never a global funnel") {
    val plan = planOf("pack_sequences")
    val windows = "(?m)^\\s*[+:\\-\\s]*\\*?\\(?\\d*\\)?\\s*Window .*$".r
      .findAllIn(plan).toList
    assert(windows.nonEmpty, s"no Window operator in:\n$plan")
    // every Window in the plan must carry a partition spec: the packing
    // window is keyed by the doc-id-range group, so no stage funnels the
    // whole chunk grid through one partition
    windows.foreach { w =>
      assert(w.contains("windowspecdefinition(grp"),
        s"unpartitioned or mis-keyed packing window: $w") }
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("graph_pagerank: the checkpointed edge table feeds every iteration exchange-free and sort-free") {
    val plan = planOf("graph_pagerank")
    // r19: eo is hash-partitioned + sorted by the iteration join key at
    // checkpoint time (Dataset.checkpoint preserves partitioning and
    // ordering), so the unrolled power iterations must carry NO exchange
    // and NO sort on the edge side — the only src-keyed work left is the
    // checkpoint scan itself. The rank side's per-iteration aggregate
    // exchanges (keyed by dst/node) are the inherent shuffles.
    assert(!plan.contains("Exchange hashpartitioning(src"),
      s"edge table re-shuffled inside the iteration loop:\n$plan")
    assert(!"Sort \\[src#".r.findFirstIn(plan).isDefined,
      s"edge table re-sorted inside the iteration loop:\n$plan")
  }

  test("file_shard_stats scans file listing metadata only; file_ingest reads content") {
    def readSchema(name: String): String = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(planOf(name)).map(_.group(1)).getOrElse(fail(s"no ReadSchema for $name"))
    // sizes come from the listing's `length` column: no file bytes read
    val stats = readSchema("file_shard_stats")
    assert(!stats.contains("content"), s"file_shard_stats reads file bytes: $stats")
    assert(stats.contains("length"), s"file_shard_stats lost the length column: $stats")
    // the md5 digest needs the bytes
    val ingest = readSchema("file_ingest")
    assert(ingest.contains("content"), s"file_ingest no longer reads content: $ingest")
  }
}
