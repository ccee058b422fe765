package graft

import org.apache.spark.sql.functions._

/** Runtime row-level filtering: Spark's optimizer can inject a bloom
  * filter built from a selective join side into the other side's scan —
  * at 100 TB this is the lever that keeps a fact-fact join from
  * shuffling rows the other side will discard (the same job the manual
  * `decontaminate_prefilter` bucket table does, done automatically).
  * The spec pins that the injection actually fires for the engine's
  * fact-fact join shape, and that it is semantics-preserving.
  *
  * The size thresholds that gate injection are production-scale
  * (application side ≥ 10 GB by default); they are lowered here because
  * the fixture is small — the point is that the ENGINE's join shape is
  * injection-eligible, not to re-test Spark's defaults. */
class RuntimeFilterSpec extends SparkSpec {

  test("selective fact-fact join gets a runtime bloom filter on the probe side") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val selective = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_extendedprice")
        .join(selective, col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter_agg") ||
        optimized.contains("might_contain"),
        s"no runtime bloom filter injected in:\n$optimized")
      // injection is a pure pruning hint: result identical to the plain join
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf)
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() === expected)
    }
  }
}
