package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Information-retrieval operators over the `documents` corpus
  * (SURVEY.md §2b Q25 adjunct): BM25 relevance ranking and inverted-index
  * construction — the two core batch jobs of a search/retrieval data
  * pipeline (score documents against a query; build the term→postings
  * table the online index serves from).
  *
  * Scale design — BM25's corpus statistics (N, Σdl, per-term df) are ONE
  * aggregate row however large the corpus, broadcast back over the fact:
  * scoring is then a pure narrow map and the top-k is a distributed
  * TakeOrdered, so the only shuffle in the whole query is the 1-row
  * stats gather. The inverted index shuffles each (term, doc) posting
  * exactly once on the term key with in-row dedup before the exchange.
  *
  * Float determinism across engines: `ln` is the one operation whose
  * bit pattern is NOT pinned by IEEE-754 (libm differs between the JVM
  * and DuckDB's C++ runtime by up to 1 ulp), so every idf is quantized
  * to a 2⁻²⁰ binary grid — `floor(ln(x)·2²⁰)/2²⁰` — immediately after
  * the log. The remaining arithmetic (one division per term, one per
  * doc-length norm, three fixed-order additions) is plain IEEE ops on
  * exact inputs, bit-identical in any engine and any merge order. The
  * shared fragments below are spliced verbatim into BOTH the Spark
  * `expr(...)` and the DuckDB oracle, so the two sides cannot drift.
  */
object IrOps {
  type Q = (SparkSession, String) => DataFrame

  /** Query terms, fixed order (idf contrast: df ≈ 394 / 382 / 25 at
    * sf0.01 — `dup` is the rare, high-signal term). */
  private val Terms = Seq("join", "vector", "dup")

  /** BM25 idf with the 2⁻²⁰ grid quantization (see class doc). The grid
    * constant is spelled `CAST(1048576 AS DOUBLE)` because a bare
    * `1048576.0` literal is DECIMAL in Spark's dialect — the final
    * division would silently run in rounded decimal arithmetic (it cost
    * a 5.6e-10 hash mismatch before the cast pinned it to IEEE). */
  private def idfSql(t: String): String =
    s"floor(ln(1.0 + (CAST(n_docs - df_$t AS DOUBLE) + 0.5) / " +
      s"(CAST(df_$t AS DOUBLE) + 0.5)) * CAST(1048576 AS DOUBLE)) / " +
      "CAST(1048576 AS DOUBLE)"

  /** Okapi tf component, k1 = 1.2, b = 0.75 (so k1+1 = 2.2, 1−b = 0.25). */
  private def tfNormSql(t: String): String =
    s"CAST(tf_$t AS DOUBLE) * 2.2 / (CAST(tf_$t AS DOUBLE) + " +
      s"1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))"

  private def contribSql(t: String): String =
    s"CASE WHEN tf_$t > 0 THEN (${idfSql(t)}) * (${tfNormSql(t)}) ELSE 0.0 END"

  /** Left-associative fixed-order sum — identical grouping both engines. */
  private val scoreSql: String = Terms.map(t => s"(${contribSql(t)})").mkString(" + ")

  private val avgdlSql = "CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"

  /** BM25 ranking of the corpus against a 3-term query. Stage 1 computes
    * per-doc lengths and term frequencies in-row (one scan, narrow);
    * stage 2 gathers the 1-row corpus stats; stage 3 broadcasts them
    * back and scores every doc in a narrow map; the final top-50 is a
    * TakeOrdered, never a global sort. At 100 TB nothing but the 1-row
    * stats ever crosses the network. */
  def bm25Rank(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docTermBase(Tables.documents(spark, sfDir))
    scoreWithStats(base, corpusStats(base))
  }

  /** Per-doc length + term frequencies, in-row from a (doc_id, text)
    * frame — stage 1 of [[bm25Rank]], factored so the streaming
    * stats-maintenance twin tokenizes each micro-batch with the SAME
    * definition the batch ranker scores with. */
  private[graft] def docTermBase(docs: DataFrame): DataFrame = {
    val tfCols = Terms.map(t =>
      expr(s"size(filter(toks, x -> x = '$t'))").cast("long").as(s"tf_$t"))
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(Seq(col("doc_id"), size(col("toks")).cast("long").as("dl")) ++ tfCols: _*)
  }

  /** The 1-row corpus statistics (N, Σdl, per-term df) — all ADDITIVE
    * longs, which is what makes the streaming twin's delta store exact:
    * stats over disjoint micro-batches sum to the batch stats. */
  private[graft] def corpusStats(base: DataFrame): DataFrame = {
    val statCols = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      Terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    base.agg(statCols.head, statCols.tail: _*)
  }

  /** Stage 3 of [[bm25Rank]]: broadcast the 1-row stats back over the
    * per-doc term base and score narrow; top-50 is a TakeOrdered. Takes
    * the stats as a parameter so a MAINTAINED stats row (the streaming
    * store's read-back) scores bit-identically to the inline aggregate —
    * StreamingSpec pins that equality end-to-end. */
  private[graft] def scoreWithStats(base: DataFrame, stats: DataFrame): DataFrame =
    base.crossJoin(broadcast(stats))
      .withColumn("avgdl", expr(avgdlSql))
      .select(Seq(col("doc_id"), col("dl")) ++
        Terms.map(t => col(s"tf_$t")) :+ expr(scoreSql).as("score"): _*)
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(50)

  /** Inverted-index construction: term → document frequency + the first
    * 10 postings (sorted doc ids, '|'-joined so the row is flat and
    * hash-comparable). Tokens are deduplicated IN-ROW (`array_distinct`)
    * before the exchange, so the shuffle carries each (term, doc)
    * posting once; `collect_set` + `sort_array` makes the posting list
    * merge-order-free at any parallelism. For web-scale postings the
    * truncation would ride [[graft.plans.TopKPerKey]] instead of
    * collecting the full set — noted, same exchange shape. */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"),
        array_join(
          expr("transform(slice(sort_array(collect_set(doc_id)), 1, 10), x -> CAST(x AS STRING))"),
          "|").as("postings"))
      .orderBy(col("df").desc, col("token").asc)

  /** tf·idf weight; ln quantized to the 2⁻²⁰ grid (class doc). */
  private val wSql =
    "CAST(tf AS DOUBLE) * (floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) " +
      "* CAST(1048576 AS DOUBLE)) / CAST(1048576 AS DOUBLE))"

  /** Binary fixed-point quantization of a weight product: floor(x·2²⁰)
    * as BIGINT — the exact-integer-sum trick that makes float SUMS
    * merge-order-free (weights are ≥ 0, so floor is one well-defined
    * rounding identical in every engine). */
  private def q20(x: String): String =
    s"CAST(FLOOR($x * CAST(1048576 AS DOUBLE)) AS BIGINT)"

  private val deq20 = "CAST(1048576 AS DOUBLE)"

  /** Sparse TF-IDF document-to-document cosine similarity — the SPARSE
    * twin of the dense embedding pipeline (`embed_top_pairs`): candidate
    * pairs come from a rare-term inverted index (df·5 ≤ N — the terms
    * whose posting lists stay short under Zipf; common terms generate
    * quadratic pair noise AND near-zero idf weight, so dropping them is
    * both the scale move and the relevance move), then the full-vocab
    * cosine is computed exactly for candidates only. Every float SUM
    * (norms, dot products) is fixed-point-quantized to exact BIGINTs
    * before aggregation, so the result is merge-order-free and
    * hash-matches DuckDB; the remaining IEEE ops (one sqrt, two
    * divisions, one multiply per pair) are bit-pinned. The weights table
    * is checkpointed ONCE and feeds all four derivations (rare index,
    * both join sides, norms) without re-scanning the corpus. */
  def tfidfDocSim(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id").as("d"), explode(split(col("text"), " ")).as("t"))
      .groupBy("d", "t").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val nd = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val w = Fixpoint.eagerCheckpoint(
      tf.join(dfr, "t").crossJoin(broadcast(nd))
        .select(col("d"), col("t"), col("df"), col("n_docs"),
          expr(wSql).as("w")))
    val nrm = w.groupBy("d").agg(sum(expr(q20("w * w"))).as("sq"))
      .select(col("d"), expr(s"sqrt(CAST(sq AS DOUBLE) / $deq20)").as("nrm"))
    // candidate gate: relative rarity AND an absolute df ceiling — the
    // relative gate alone admits (n/5)²-pair postings as the corpus
    // grows (see GraftConf.irSimMaxDf); similarity WEIGHTS still use
    // every term, only candidate generation is pruned
    val rare = w.filter(col("df") * 5 <= col("n_docs") &&
        col("df") <= lit(graft.GraftConf.irSimMaxDf(spark)))
      .select("d", "t")
    val cand = rare.as("a").join(rare.as("b"),
        col("a.t") === col("b.t") && col("a.d") < col("b.d"))
      .select(col("a.d").as("d1"), col("b.d").as("d2")).distinct()
    val w1 = w.select(col("d").as("d1"), col("t"), col("w").as("w1"))
    val w2 = w.select(col("d").as("d2"), col("t"), col("w").as("w2"))
    cand.join(w1, "d1").join(w2, Seq("d2", "t"))
      .groupBy("d1", "d2").agg(sum(expr(q20("w1 * w2"))).as("qs"))
      .select(col("d1"), col("d2"),
        expr(s"CAST(qs AS DOUBLE) / $deq20").as("dot"))
      .join(nrm.select(col("d").as("d1"), col("nrm").as("nrm1")), "d1")
      .join(nrm.select(col("d").as("d2"), col("nrm").as("nrm2")), "d2")
      .filter(col("nrm1") > 0.0 && col("nrm2") > 0.0)
      .select(col("d1"), col("d2"), col("dot"),
        expr("dot / (nrm1 * nrm2)").as("cos"))
      .orderBy(col("cos").desc, col("d1").asc, col("d2").asc)
      .limit(20)
  }

  /** One RRF contribution: 1/(60 + rank), 0 when the list misses the
    * document — rank-60 is the published constant (Cormack, Clarke &
    * Buettcher 2009). Shared verbatim by the Spark `expr` and the
    * DuckDB oracle: the CASTs keep both engines in IEEE doubles (a bare
    * numeric literal is DECIMAL in both dialects). */
  private def rrfTermSql(c: String): String =
    s"CASE WHEN $c IS NULL THEN 0.0 ELSE " +
      s"CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST($c AS DOUBLE)) END"
  private val rrfSql = s"(${rrfTermSql("s_rnk")}) + (${rrfTermSql("d_rnk")})"

  /** Hybrid retrieval with reciprocal-rank fusion — the standard way
    * production search stacks combine a sparse (lexical) and a dense
    * (embedding) ranker without score calibration: fuse by RANK, not by
    * score, since BM25 scores and cosines live on incomparable scales.
    * Sparse list = [[bm25Rank]]'s top-50 (the 3-term query); dense list
    * = cosine top-50 against the query embedding (vec_id 0 — the
    * fixture's embedded form of the query; `vec_id` is the embedding
    * row of `doc_id`). Fused score = Σ 1/(60 + rank) over the lists
    * that contain the document, top-20 out, ties by doc_id.
    *
    * Scale shape: each side is already 100 TB-sound on its own (BM25 =
    * 1-row stats broadcast + TakeOrdered; dense = broadcast 1-row query
    * + TakeOrdered) and fusion only ever sees the two ≤50-row lists —
    * the rank windows and the full-outer join run on bounded k-row
    * inputs whatever the corpus size (the single-partition windows are
    * deliberate: 50 rows each). Fully hash-oracled: ranks are
    * deterministic integer cuts and the RRF arithmetic is two divisions
    * and one add on exact inputs, spliced verbatim into both engines. */
  def hybridRrfFuse(spark: SparkSession, sfDir: String): DataFrame = {
    val sparse = bm25Rank(spark, sfDir)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long").as("s_rnk"))
    val v = SimOps.withNorm(Tables.embeddings(spark, sfDir))
    val qv = v.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("nrm").as("qn"))
    val dense = v.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        (SimOps.dot(col("embedding"), col("qe")) / sqrt(col("nrm") * col("qn")))
          .as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(50)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id").asc))
          .cast("long").as("d_rnk"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf", expr(rrfSql))
      .select(col("doc_id"), col("s_rnk"), col("d_rnk"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(20)
  }

  val queries: Map[String, Q] = Map(
    "bm25_rank"      -> (bm25Rank _),
    "inverted_index" -> (invertedIndex _),
    "tfidf_doc_sim"  -> (tfidfDocSim _),
    "hybrid_rrf_fuse" -> (hybridRrfFuse _))

  /** The BM25 CTE chain (base → stats → scored) — shared VERBATIM by
    * the `bm25_rank` oracle and the hybrid fusion's sparse side. */
  private val sqlBm25Ctes: String = {
    val tfSelects = Terms.map(t =>
      s"len(list_filter(string_split(text, ' '), x -> x = '$t')) AS tf_$t")
      .mkString(",\n      |  ")
    val dfSelects = Terms.map(t =>
      s"SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t")
      .mkString(", ")
    val tfCarry = Terms.map(t => s"tf_$t").mkString(", ")
    val dfCarry = Terms.map(t => s"df_$t").mkString(", ")
    s"""base AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |  $tfSelects
      |  FROM documents),
      |stats AS (
      |  SELECT count(*) AS n_docs, SUM(dl) AS sum_dl, $dfSelects FROM base),
      |scored AS (
      |  SELECT doc_id, dl, $tfCarry,
      |    $scoreSql AS score
      |  FROM (SELECT base.*, $avgdlSql AS avgdl, n_docs, $dfCarry
      |        FROM base CROSS JOIN stats))""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "bm25_rank" ->
      s"""WITH $sqlBm25Ctes
        |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
        |  ${Terms.map(t => s"CAST(tf_$t AS BIGINT) AS tf_$t").mkString(", ")},
        |  score
        |FROM scored WHERE score > 0.0
        |ORDER BY score DESC, doc_id ASC LIMIT 50""".stripMargin,
    "hybrid_rrf_fuse" ->
      s"""WITH $sqlBm25Ctes,
        |sp0 AS (SELECT doc_id, score FROM scored WHERE score > 0.0
        |        ORDER BY score DESC, doc_id ASC LIMIT 50),
        |sparse AS (SELECT doc_id, CAST(row_number() OVER (
        |             ORDER BY score DESC, doc_id ASC) AS BIGINT) AS s_rnk
        |           FROM sp0),
        |v AS (${SimOps.sqlVec}),
        |n AS (SELECT vec_id, d, ${SimOps.sqlDot("d", "d")} AS nrm FROM v),
        |qv AS (SELECT d AS qd, nrm AS qn FROM n WHERE vec_id = 0),
        |de0 AS (SELECT x.vec_id AS doc_id,
        |          ${SimOps.sqlDot("x.d", "qv.qd")} / sqrt(x.nrm * qv.qn) AS cos
        |        FROM n x CROSS JOIN qv WHERE x.vec_id <> 0
        |        ORDER BY cos DESC, doc_id ASC LIMIT 50),
        |dense AS (SELECT doc_id, CAST(row_number() OVER (
        |            ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS d_rnk
        |          FROM de0),
        |fused AS (SELECT COALESCE(s.doc_id, de.doc_id) AS doc_id,
        |            s.s_rnk AS s_rnk, de.d_rnk AS d_rnk
        |          FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id)
        |SELECT doc_id, s_rnk, d_rnk, ($rrfSql) AS rrf
        |FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin,
    "tfidf_doc_sim" ->
      s"""WITH tf AS (
         |  SELECT doc_id AS d, token AS t, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |    FROM documents) x
         |  GROUP BY 1, 2),
         |dfr AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |w AS (SELECT d, tf.t, df, n_docs, $wSql AS w
         |      FROM tf JOIN dfr ON tf.t = dfr.t CROSS JOIN nd),
         |nrm AS (SELECT d,
         |          sqrt(CAST(SUM(${q20("w * w")}) AS DOUBLE) / $deq20) AS nrm
         |        FROM w GROUP BY 1),
         |rare AS (SELECT d, t FROM w WHERE df * 5 <= n_docs AND df <= 256),
         |cand AS (SELECT DISTINCT a.d AS d1, b.d AS d2
         |         FROM rare a JOIN rare b ON a.t = b.t AND a.d < b.d),
         |dots AS (SELECT c.d1, c.d2,
         |           CAST(SUM(${q20("w1.w * w2.w")}) AS DOUBLE) / $deq20 AS dot
         |         FROM cand c
         |         JOIN w w1 ON w1.d = c.d1
         |         JOIN w w2 ON w2.d = c.d2 AND w2.t = w1.t
         |         GROUP BY 1, 2)
         |SELECT s.d1, s.d2, s.dot, s.dot / (n1.nrm * n2.nrm) AS cos
         |FROM dots s
         |JOIN nrm n1 ON n1.d = s.d1
         |JOIN nrm n2 ON n2.d = s.d2
         |WHERE n1.nrm > 0.0 AND n2.nrm > 0.0
         |ORDER BY cos DESC, d1 ASC, d2 ASC LIMIT 20""".stripMargin,
    "inverted_index" ->
      """WITH td AS (
        |  SELECT DISTINCT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents) t)
        |SELECT token, count(*) AS df,
        |  array_to_string(list_sort(list(doc_id))[1:10], '|') AS postings
        |FROM td GROUP BY token
        |ORDER BY df DESC, token ASC""".stripMargin)
}
