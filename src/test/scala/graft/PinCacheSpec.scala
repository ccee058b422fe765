package graft

import org.apache.spark.sql.SparkSession

/** Every `PinCache.pinned` call site, reached through the registry query
  * that builds it: a pinned intermediate of one corpus is never served to
  * a query over another corpus. Each query runs on sf0.001 and then
  * sf0.01 with no cache clear in between, then on sf0.001 again in a
  * second session of the same application (its own temp views, the same
  * cache), and each result must equal the one computed from a cleared
  * cache, where every pin is rebuilt from its own corpus. The second
  * session matters for SQL-built pins: replacing a temp view uncaches the
  * plans over it, which hides a key collision within one session. */
class PinCacheSpec extends SparkSpec {
  private val big = "/root/testdata/sf0.01"

  private def rows(name: String, dir: String, session: SparkSession = spark): Seq[String] =
    SparkEntry.queries(name)(session, dir).collect().map(_.toString).toSeq.sorted

  private def fresh(name: String, dir: String): Seq[String] = {
    spark.catalog.clearCache()
    rows(name, dir)
  }

  Seq(
    "sql_q2_mincost" -> Nil,
    "market_basket" -> Nil,
    "dedup_semantic" -> Nil,
    "dedup_minhash_lsh" -> Nil,
    "dedup_simhash_pairs" -> Nil,
    // the postings cap is the only caller of its pin
    "dedup_substring_spans" -> Seq("spark.graft.spans.maxDf" -> "8"),
    "mix_corpora" -> Nil,
    "dsir_resample" -> Nil
  ).foreach { case (name, conf) =>
    test(s"$name: a pinned intermediate is not served across corpora") {
      val other = spark.newSession()
      for (s <- Seq(spark, other); (k, v) <- conf) s.conf.set(k, v)
      try {
        val (small, large) = (fresh(name, sf), fresh(name, big))
        assert(small !== large, "the two corpora must give different results")
        spark.catalog.clearCache()
        assert(rows(name, sf) === small)
        assert(rows(name, big) === large, "sf0.01 was served sf0.001's pinned frame")
        assert(rows(name, sf, other) === small,
          "a second session was served the first session's pinned frame")
      } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }
}
