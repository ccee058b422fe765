package graft

import org.apache.spark.sql.functions._

/** Properties for the round-5 warehouse/graph/classification operators
  * beyond the DuckDB hash gate: branch semantics of MERGE, interval
  * contiguity of SCD-2, algebraic equality of the partial-aggregate
  * merge, a brute-force triangle cross-check, and vote sanity for kNN. */
class WarehouseGraphSpec extends SparkSpec {

  test("merge_upsert: exactly one insert branch, keep+update partition the base") {
    val rows = q("merge_upsert").collect()
    val byAction = rows.groupBy(_.getAs[String]("action")).view.mapValues(_.length).toMap
    assert(byAction.getOrElse("insert", 0) === 1)
    val inserted = rows.filter(_.getAs[String]("action") == "insert").head
    assert(inserted.getAs[Long]("custkey") === -1L)
    assert(inserted.getAs[String]("name") === "NEW")
    val baseCount = Tables.customer(spark, sf).count()
    assert(byAction.getOrElse("keep", 0) + byAction.getOrElse("update", 0) === baseCount)
    // updated rows carry a real open position; kept rows carry the default
    rows.filter(_.getAs[String]("action") == "update")
      .foreach(r => assert(r.getAs[Long]("n_open") > 0))
    rows.filter(_.getAs[String]("action") == "keep")
      .foreach(r => assert(r.getAs[Long]("n_open") === 0))
  }

  test("scd2_intervals: versions are dense, intervals chain, one current row per key") {
    val rows = q("scd2_intervals").collect()
    rows.groupBy(_.getAs[Long]("custkey")).foreach { case (_, hist) =>
      val sorted = hist.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq === (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Any]("valid_to") === b.getAs[Any]("valid_from"))
        case _ =>
      }
      assert(sorted.count(_.getAs[Boolean]("is_current")) === 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
    }
  }

  test("partial_agg_merge: equals the direct single-pass aggregate exactly") {
    val merged = q("partial_agg_merge").collect()
    val direct = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect()
    assert(merged.toSeq === direct.toSeq)
  }

  test("graph_triangles: matches the naive triple-join count on the small graph") {
    // the distributed plan (budget 0); FixpointSpec pins the driver-local
    // census to it bit for bit
    val row = ops.GraphOps.graphTriangles(spark, sf, localRows = 0).collect().head
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("x"), col("b.pk").as("y")).distinct().cache()
    val naive = e.as("e1")
      .join(e.as("e2"), col("e1.y") === col("e2.x"))
      .join(e.as("e3"), col("e3.x") === col("e1.x") && col("e3.y") === col("e2.y"))
      .count()
    assert(row.getAs[Long]("n_triangles") === naive)
    assert(row.getAs[Long]("n_edges") === e.count())
    e.unpersist()
  }

  test("window_cume: ratios in (0,1], quartiles dense 1..4, cume monotone in rank") {
    val rows = q("window_cume").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("quartile") >= 1L && r.getAs[Long]("quartile") <= 4L)
      assert(r.getAs[Double]("pct_rank") >= 0.0 && r.getAs[Double]("pct_rank") <= 1.0)
      assert(r.getAs[Double]("cume") > 0.0 && r.getAs[Double]("cume") <= 1.0)
    }
    rows.groupBy(_.getAs[Long]("nationkey")).foreach { case (_, grp) =>
      // rows arrive ordered by (acctbal, custkey) within nation: cume and
      // quartile must be non-decreasing along that order
      grp.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("cume") <= b.getAs[Double]("cume"))
          assert(a.getAs[Long]("quartile") <= b.getAs[Long]("quartile"))
        case _ =>
      }
      assert(grp.last.getAs[Double]("cume") === 1.0)
    }
  }

  test("embed_knn_classify: one prediction per query, votes bounded by k") {
    val rows = q("embed_knn_classify").collect()
    val nQueries = Tables.embeddings(spark, sf).filter(col("vec_id") < 50).count()
    assert(rows.length === nQueries)
    assert(rows.map(_.getAs[Long]("query_id")).distinct.length === rows.length)
    rows.foreach { r =>
      val v = r.getAs[Long]("n_votes")
      assert(v >= 1L && v <= 5L)
    }
    // majority vote can't be beaten by an unreported label: winner has
    // strictly more than k/2 votes OR ties were broken toward smaller
    // label — spot-check that at least some queries predict their own
    // true label (embeddings are label-clustered by construction)
    val acc = rows.count(r => r.getAs[Long]("pred_label") == r.getAs[Long]("true_label"))
    assert(acc > 0, "kNN should recover at least one true label on clustered fixtures")
  }

  test("cdc_apply: deletes drop rows, inserts land, last writer wins") {
    val rows = q("cdc_apply").collect()
    val byKey = rows.map(r => r.getAs[Long]("custkey") -> r).toMap
    assert(byKey.size === rows.length, "one row per key")
    // recompute the changelog's final record per key driver-side
    val o = Tables.orders(spark, sf)
      .select(col("o_custkey").as("k"), col("o_orderkey").as("s"), col("o_totalprice").as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val changes = o.map { case (k, s, p) =>
      (k, s, if (s % 19 == 0) "D" else "U", p)
    } ++ o.filter(_._2 % 101 == 0).map { case (k, s, p) => (-k, s, "I", p) }
    val finalByKey = changes.groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
    finalByKey.foreach { case (k, (_, _, op, p)) =>
      if (op == "D") assert(!byKey.contains(k), s"deleted key $k must be absent")
      else {
        assert(byKey.contains(k), s"key $k with final $op must be present")
        assert(byKey(k).getAs[Double]("balance") === p, "last writer's value wins")
        assert(byKey(k).getAs[String]("last_op") ===
          (if (op == "I") "inserted" else "updated"))
      }
    }
    // untouched base rows pass through with their original balance
    val base = Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    base.keys.filterNot(finalByKey.contains).foreach { k =>
      assert(byKey(k).getAs[String]("last_op") === "unchanged")
      assert(byKey(k).getAs[Double]("balance") === base(k))
    }
  }

  test("attribution_touch: both models credit every purchase exactly once") {
    val rows = q("attribution_touch").collect()
    val nPurch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("ft_conversions")).sum === nPurch)
    assert(rows.map(_.getAs[Long]("lt_conversions")).sum === nPurch)
    // channels are non-purchase event types (or the direct bucket)
    val chans = rows.map(_.getAs[String]("channel")).toSet
    assert(chans.subsetOf(Set("click", "view", "signup", "error", "direct")))
    rows.foreach { r =>
      assert(r.getAs[Double]("ft_revenue") >= 0.0)
      assert(r.getAs[Double]("lt_revenue") >= 0.0)
    }
  }

  test("graph_pagerank: ranks exceed the damping floor and descend in order") {
    // the distributed plan (budget 0), as for graph_triangles
    val rows = ops.GraphOps.graphPagerank(spark, sf, localRows = 0).collect()
    assert(rows.length === 20)
    // every rank ≥ 0.15 (the damping floor) and the result is ordered
    rows.foreach(r => assert(r.getAs[Double]("pr") >= 0.15))
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getAs[Double]("pr") >= b.getAs[Double]("pr"))
      case _ =>
    }
    // high-degree nodes accumulate rank: the top node's degree should be
    // well above the graph's mean degree
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val meanDeg = 2.0 * li.count() * 2 / // both directions, two endpoints
      (li.select("l_partkey").distinct().count() +
        li.select("l_suppkey").distinct().count())
    assert(rows.head.getAs[Long]("deg").toDouble > meanDeg)
  }

  test("promo_share: ratio bounded, denominators reconcile with direct revenue") {
    val rows = q("promo_share").collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("promo_rev") >= 0.0)
      assert(r.getAs[Double]("promo_rev") <= r.getAs[Double]("total_rev"))
      val share = r.getAs[Double]("promo_share")
      assert(share >= 0.0 && share <= 100.0)
    }
    val total = rows.map(r => BigDecimal(r.getAs[Double]("total_rev"))).sum
    val direct = Tables.lineitem(spark, sf)
      .agg(graft.Det.moneySum4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
      .collect().head.getDouble(0)
    assert((total - BigDecimal(direct)).abs < BigDecimal(1e-4),
      "per-month revenue must reconcile with the corpus total")
  }

  test("outlier_zscore: stats sane, outlier count matches a direct recompute") {
    val rows = q("outlier_zscore").collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("sd_price") > 0.0)
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n_orders"))
      if (r.getAs[Double]("max_abs_z") > 2.5) assert(r.getAs[Long]("n_outliers") >= 1L)
      else assert(r.getAs[Long]("n_outliers") === 0L)
    }
    // cross-check one segment against a driver-side recompute
    val seg = rows.head.getAs[String]("segment")
    val prices = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf)
        .filter(col("c_mktsegment") === seg).select("c_custkey"),
        col("o_custkey") === col("c_custkey"))
      .select("o_totalprice").collect().map(_.getDouble(0))
    val mean = prices.sum / prices.length
    val sd = math.sqrt(prices.map(p => (p - mean) * (p - mean)).sum / (prices.length - 1))
    assert(math.abs(rows.head.getAs[Double]("mean_price") - mean) < 1e-6 * mean)
    assert(math.abs(rows.head.getAs[Double]("sd_price") - sd) < 1e-4 * sd)
    val nOut = prices.count(p => math.abs((p - mean) / sd) > 2.5)
    // the engine's quantized sd can flip a knife-edge case; allow ±1
    assert(math.abs(rows.head.getAs[Long]("n_outliers") - nOut) <= 1)
  }

  test("dup_ngram_spans: every reported span occurs in >=2 docs and occ >= docs") {
    val rows = q("dup_ngram_spans").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2L)
      assert(r.getAs[Long]("n_occ") >= r.getAs[Long]("n_docs"))
    }
  }
}
