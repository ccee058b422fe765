package graft.ops

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch time-series ops over `events` (SURVEY.md §2b Q24): tumbling
  * windows and gap-based sessionization — the analytics the reference's
  * secondary-sort reduce would compute, done with one exchange on the
  * group key. Sessionization uses lag + a running flag-sum, so it's a
  * single window pass per user (no self-join); at 100 TB user_id is
  * high-cardinality, keeping per-partition state tiny.
  */
object TimeOps {
  type Q = (SparkSession, String) => DataFrame

  /** Q24 tumbling 1-hour windows per event type. Spark's `window()` aligns
    * to the epoch exactly like DuckDB's date_trunc('hour'). */
  def timeTumbling(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("sum_value"))
      .orderBy("hour_start", "event_type")

  /** Q24 gap-based sessionization (30-minute inactivity gap): lag to flag
    * session starts, sum flags for session count. Gap compared in exact
    * integer microseconds on both engines. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(sum(col("is_new")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Q24 session detail: per-session span + event count, keyed by a
    * deterministic session index (running sum of start flags). */
  def sessionSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        floor((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / lit(1000000L))
          .cast("long").as("span_sec"))
      .orderBy("user_id", "session_id")
  }

  /** Q24 via the BUILT-IN `session_window` surface — the same 30-minute
    * gap rule as [[sessionSpans]], but expressed as Spark's native
    * session-window aggregate (one hash exchange on user_id, sessions
    * assembled by the merging-window aggregate — no lag window pass).
    * Output schema matches [[sessionSpans]]: the session index is the
    * rank of the session's first event within the user, which equals the
    * lag-formulation's running-sum id.
    *
    * Boundary semantics: `session_window`'s gap is INCLUSIVE — an event
    * landing EXACTLY gap after its predecessor STAYS in the session,
    * matching the lag formulation's `diff > gap` split rule exactly
    * (pinned by a JoinWindowTimeSpec unit test with a constructed
    * exact-gap pair — the fixture's sub-second timestamps can't exercise
    * the tie). The oracle is therefore identical to `session_spans`',
    * and the StreamingSpec twin pins streaming == batch on this same
    * operator. */
  def sessionWindowNative(spark: SparkSession, sfDir: String): DataFrame = {
    val sessions = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
    sessions
      .withColumn("session_id", row_number()
        .over(Window.partitionBy("user_id").orderBy(col("first_us").asc))
        .cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        floor((col("last_us") - col("first_us")) / lit(1000000L))
          .cast("long").as("span_sec"))
      .orderBy("user_id", "session_id")
  }

  /** Interval×interval OVERLAP join (temporal-DB workhorse; the
    * containment twin is [[rangeJoinBinned]]): user session spans
    * against a derived grid of 2-hour maintenance windows every 6 hours.
    * The naive `s.start < w.end AND w.start < s.end` theta join is a
    * per-key cross product; Spark-first both interval sets EXPLODE to
    * their covered bins, equi-join on the bin, then a residual
    * strict-overlap filter + distinct collapse the multi-bin matches.
    * The bin width comes from the DATA ([[overlapBinWidth]]: hour-
    * rounded session-length P99, floor 1 h), so ≥99% of sessions land
    * in ≤2 bins on any corpus — fan-out is bounded by construction,
    * not by a fixture-tuned constant. All boundary arithmetic is exact epoch-micros
    * LONGs (truncation to micros commutes with min/max, so the ns-
    * precision source agrees across engines); overlap seconds are one
    * integral division. The window grid derives from a 1-row bounds
    * aggregate — nothing hardcoded, any data range works. */
  /** Session intervals (one row per 30-min-gap session with its exact
    * epoch-micros bounds) — shared by [[intervalOverlapJoin]] and its
    * fan-out spec. */
  private[graft] def sessionIntervals(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
  }

  /** Bin width for the overlap join, DERIVED FROM THE DATA: the hour-
    * rounded P99 of session length (floor 1 h). The RESULT is invariant
    * to the width — bins only propose candidates; the residual strict-
    * overlap filter and distinct fix the output — so this is purely a
    * fan-out control: a corpus of day-long sessions gets day-scale bins
    * (≈1 bin/interval) instead of exploding each session into 24+ hourly
    * bins. The P99 is exact-integer and scale-safe: lengths quantize to
    * whole SECONDS (ceil), so the cumulative-count window runs over at
    * most max-session-seconds distinct values — bounded by the time
    * domain, not the row count. Returns one row: `binw` (micros). */
  private[graft] def overlapBinWidth(sess: DataFrame): DataFrame = {
    val OneH = 3600000000L
    val lens = sess.select(
      expr("(e_us - s_us + 999999) div 1000000").as("len_s"))
    val n1 = lens.agg(count(lit(1)).as("n"))
    lens.groupBy("len_s").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("len_s").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(n1))
      .filter(col("cum") * 100 >= col("n") * 99)
      .agg(min(col("len_s")).as("p99_s"))
      .select(expr(
        s"greatest($OneH, ((p99_s * 1000000 + $OneH - 1) div $OneH) * $OneH)")
        .as("binw"))
  }

  def intervalOverlapJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val SixH = 21600000000L; val TwoH = 7200000000L
    // checkpointed: both the P99 bin-width aggregate and the bin explode
    // consume the session derivation (events scan + per-user lag window);
    // without it each consumer re-runs the derivation (exchange reuse
    // doesn't survive the differing downstream pruning)
    val sess = Fixpoint.eagerCheckpoint(sessionIntervals(spark, sfDir))
    val binw = broadcast(overlapBinWidth(sess))
    val bounds = Tables.events(spark, sfDir)
      .agg(unix_micros(date_trunc("day", min(col("ts")))).as("d0"),
        unix_micros(max(col("ts"))).as("mx"))
    val wins = bounds
      .select(col("d0"),
        explode(expr(s"sequence(0, (mx - d0) div $SixH)")).as("window_id"))
      .select(col("window_id"), (col("d0") + col("window_id") * SixH).as("ws_us"))
      .withColumn("we_us", col("ws_us") + TwoH)
    val sb = sess.crossJoin(binw)
      .select(col("user_id"), col("session_id"), col("s_us"), col("e_us"),
        explode(expr("sequence(s_us div binw, e_us div binw)")).as("h"))
    val wb = wins.crossJoin(binw)
      .select(col("window_id"), col("ws_us"), col("we_us"),
        explode(expr("sequence(ws_us div binw, (we_us - 1) div binw)")).as("h"))
    sb.join(wb, "h")
      .filter(col("s_us") < col("we_us") && col("ws_us") < col("e_us"))
      .select("user_id", "session_id", "window_id",
        "s_us", "e_us", "ws_us", "we_us")
      .distinct()
      .select(col("user_id"), col("session_id"), col("window_id"),
        expr("(least(e_us, we_us) - greatest(s_us, ws_us)) div 1000000")
          .as("overlap_sec"))
      .orderBy("user_id", "session_id", "window_id")
  }

  /** As-of join — an operator Spark SQL lacks natively, composed
    * Spark-first (SURVEY.md §7 preference (a)): tag both streams, union,
    * and carry the most recent build-side row forward with a running
    * `last(..., ignoreNulls)` window. One shuffle on (user, time) — the
    * same cost profile as a sort-merge join — versus the naive
    * inequality-join which is a per-key cross product. Ties (equal ts)
    * order the build side first, giving inclusive `>=` semantics, which
    * is exactly DuckDB's native ASOF JOIN — used as the oracle. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), lit(1).as("tag"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), lit(0).as("tag"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.union(errors)
      .withColumn("last_error_value",
        last(when(col("tag") === 0, col("value")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("value").as("purchase_value"),
        coalesce(col("last_error_value"), lit(-1.0)).as("last_error_value"))
      .orderBy("event_id")
  }

  /** Interval/range join — the other join Spark SQL has no native
    * operator for. Derived "campaign" windows ([month−10d, month+24d],
    * deliberately OVERLAPPING so a date can hit 0, 1 or 2 campaigns) are
    * joined to orders on containment.
    *
    * Naive formulation is a theta-join → BroadcastNestedLoopJoin: O(n·m)
    * comparisons and a trap once both sides are large. The scale pattern
    * here is BINNING (SURVEY §7 preference (a) — compose existing ops):
    * each interval explodes into the month bins it touches (≤2 — bounded
    * by interval span / bin width), the fact side's bin is a plain
    * truncation, and the join becomes a shuffled equi-join on the bin with
    * a residual containment filter. Per-row join work is bounded by the
    * number of intervals sharing a bin, not the total interval count. */
  def rangeJoinBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"), col("o_totalprice"))
    val camps = orders.select(trunc(col("d"), "month").as("m")).distinct()
      .select(col("m"), date_sub(col("m"), 10).as("cstart"), date_add(col("m"), 24).as("cend"))
    val campBins = camps
      .withColumn("bin", explode(expr(
        "sequence(trunc(cstart, 'month'), trunc(cend, 'month'), interval 1 month)")))
    orders.withColumn("bin", trunc(col("d"), "month"))
      .join(campBins.hint("shuffle_hash"), Seq("bin"))
      .filter(col("d") >= col("cstart") && col("d") <= col("cend"))
      .groupBy(col("m").as("campaign_month"))
      .agg(count(lit(1)).as("n_orders"), Det.moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy("campaign_month")
  }

  /** Latest-record-per-key compaction (SCD-1 / changelog upsert shape):
    * one row per user — their most recent event — via `row_number ≤ 1`,
    * which the TopKRewriteRule plans as the TopKPerKey heap (k=1 keeps
    * one record per key per partition before the exchange; no sort).
    * Tiebreak on event_id so concurrent timestamps stay deterministic. */
  def latestPerUser(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("latest_event_id"),
        col("ts").as("latest_ts"), col("event_type").as("latest_type"))
      .orderBy("user_id")
  }

  /** Click→purchase conversion funnel: per user with at least one click,
    * the first click, first purchase (if any), and whether the purchase
    * followed the click — two map-side-combined min aggregates and one
    * outer join on the user key. Null-safe conversion flag: no purchase
    * ⇒ false, identically in both engines. */
  def eventFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val fc = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("ts")).as("first_click"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("ts")).as("first_purchase"))
    fc.join(fp, Seq("user_id"), "left_outer")
      .select(col("user_id"), col("first_click"), col("first_purchase"),
        (col("first_purchase").isNotNull &&
          col("first_purchase") > col("first_click")).as("converted"))
      .orderBy("user_id")
  }

  /** Marketing attribution: each purchase credits its user's FIRST
    * non-purchase touch (first-touch model) and the LAST touch strictly
    * before it (last-touch model); purchases with no prior touch credit
    * "direct". One window pass per user (ignore-nulls first/last over a
    * preceding-rows frame — no self-join against the touch history),
    * then a single exchange on the channel key: the long-form explode
    * (role × channel × value) lets both models aggregate in one shuffle
    * instead of two jobs joined after the fact. Revenue sums follow the
    * exact-decimal rule ([[graft.Det]]). At 100 TB user_id is the
    * high-cardinality window key and channels are the tiny agg domain —
    * the same shape as sessionize above. */
  def attributionTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val purchases = Tables.events(spark, sfDir)
      .withColumn("ft", first(touch, ignoreNulls = true).over(w))
      .withColumn("lt", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(coalesce(col("ft"), lit("direct")).as("ft"),
        coalesce(col("lt"), lit("direct")).as("lt"), col("value"))
    purchases
      .select(explode(array(
        struct(lit("first").as("role"), col("ft").as("channel"), col("value")),
        struct(lit("last").as("role"), col("lt").as("channel"), col("value")))).as("t"))
      .select(col("t.role"), col("t.channel"), col("t.value"))
      .groupBy("channel")
      .agg(
        count(when(col("role") === "first", lit(1))).as("ft_conversions"),
        coalesce(sum(when(col("role") === "first", col("value"))
          .cast("decimal(18,2)")).cast("double"), lit(0.0)).as("ft_revenue"),
        count(when(col("role") === "last", lit(1))).as("lt_conversions"),
        coalesce(sum(when(col("role") === "last", col("value"))
          .cast("decimal(18,2)")).cast("double"), lit(0.0)).as("lt_revenue"))
      .orderBy("channel")
  }

  val queries: Map[String, Q] = Map(
    "time_tumbling" -> (timeTumbling _),
    "sessionize"    -> (sessionize _),
    "session_spans" -> (sessionSpans _),
    "session_window_native" -> (sessionWindowNative _),
    "interval_overlap_join" -> (intervalOverlapJoin _),
    "asof_join"     -> (asofJoin _),
    "range_join_binned" -> (rangeJoinBinned _),
    "latest_per_user" -> (latestPerUser _),
    "event_funnel"    -> (eventFunnel _),
    "attribution_touch" -> (attributionTouch _))

  val oracle: Map[String, String] = Map(
    "interval_overlap_join" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR date_diff('microsecond', prev_ts, ts) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM t),
        |g AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_id
        |  FROM s),
        |sess AS (
        |  SELECT user_id, session_id,
        |    epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
        |  FROM g GROUP BY 1, 2),
        |b AS (SELECT epoch_us(date_trunc('day', min(ts))) AS d0,
        |             epoch_us(max(ts)) AS mx FROM events),
        |w AS (
        |  SELECT CAST(t.i AS BIGINT) AS window_id,
        |    d0 + t.i * 21600000000 AS ws_us,
        |    d0 + t.i * 21600000000 + 7200000000 AS we_us
        |  FROM b, unnest(range(0, (mx - d0) // 21600000000 + 1)) AS t(i))
        |SELECT sess.user_id, sess.session_id, w.window_id,
        |  (least(e_us, we_us) - greatest(s_us, ws_us)) // 1000000 AS overlap_sec
        |FROM sess JOIN w ON s_us < we_us AND ws_us < e_us
        |ORDER BY user_id, session_id, window_id""".stripMargin,
    "attribution_touch" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER w AS ft,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER w AS lt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT coalesce(ft, 'direct') AS ft, coalesce(lt, 'direct') AS lt,
        |        value
        |      FROM t WHERE event_type = 'purchase'),
        |l AS (SELECT 'first' AS role, ft AS channel, value FROM p
        |      UNION ALL SELECT 'last', lt, value FROM p)
        |SELECT channel,
        |  count(CASE WHEN role = 'first' THEN 1 END) AS ft_conversions,
        |  coalesce(CAST(SUM(CASE WHEN role = 'first'
        |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS ft_revenue,
        |  count(CASE WHEN role = 'last' THEN 1 END) AS lt_conversions,
        |  coalesce(CAST(SUM(CASE WHEN role = 'last'
        |    THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS lt_revenue
        |FROM l GROUP BY channel ORDER BY channel""".stripMargin,
    "latest_per_user" ->
      """SELECT user_id, latest_event_id, latest_ts, latest_type FROM (
        |  SELECT user_id, event_id AS latest_event_id, ts AS latest_ts,
        |    event_type AS latest_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "event_funnel" ->
      """WITH fc AS (SELECT user_id, min(ts) AS first_click FROM events
        |            WHERE event_type = 'click' GROUP BY 1),
        |fp AS (SELECT user_id, min(ts) AS first_purchase FROM events
        |       WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT fc.user_id, fc.first_click, fp.first_purchase,
        |  (fp.first_purchase IS NOT NULL AND fp.first_purchase > fc.first_click)
        |    AS converted
        |FROM fc LEFT JOIN fp USING (user_id) ORDER BY fc.user_id""".stripMargin,
    "range_join_binned" ->
      s"""WITH camps AS (
         |  SELECT m, m - 10 AS cstart, m + 24 AS cend FROM (
         |    SELECT DISTINCT date_trunc('month', CAST(o_orderdate AS DATE)) AS m
         |    FROM orders))
         |SELECT m AS campaign_month, count(*) AS n_orders,
         |  ${Det.sqlMoneySum("o_totalprice")} AS sum_price
         |FROM orders JOIN camps
         |  ON CAST(o_orderdate AS DATE) BETWEEN cstart AND cend
         |GROUP BY m ORDER BY campaign_month""".stripMargin,
    "asof_join" ->
      """SELECT p.event_id, p.user_id, p.value AS purchase_value,
        |  coalesce(e.value, -1.0) AS last_error_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND p.ts >= e.ts
        |ORDER BY p.event_id""".stripMargin,
    "time_tumbling" ->
      s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
         |  count(*) AS n, ${Det.sqlMoneySum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "sessionize" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR date_diff('microsecond', prev_ts, ts) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM t)
        |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin,
    "session_spans" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR date_diff('microsecond', prev_ts, ts) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM t),
        |g AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_id
        |  FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(floor(date_diff('microsecond', min(ts), max(ts)) / 1000000) AS BIGINT) AS span_sec
        |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    // session_window's gap boundary is INCLUSIVE (exact-gap events merge —
    // pinned by spec), so the split rule is the same > as session_spans
    "session_window_native" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev_ts IS NULL
        |           OR date_diff('microsecond', prev_ts, ts) > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM t),
        |g AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS session_id
        |  FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(floor(date_diff('microsecond', min(ts), max(ts)) / 1000000) AS BIGINT) AS span_sec
        |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)
}
