package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Parquet table loaders for the harness fixture corpus (FIXTURES.md).
  *
  * The reference ingests a directory of opaque files and schedules one task
  * per file (`Program.cs:248-290`, `Program.cs:332-349` — no splitting of
  * large files, no combining of small ones). Here the scan is
  * `spark.read.parquet`: splittable, bin-packed
  * (`spark.sql.files.maxPartitionBytes`), column-pruned and
  * predicate-pushed by Catalyst — the properties that keep a 100 TB scan
  * feasible where a 1-file-1-task model would not be.
  */
object Tables {
  private def p(sfDir: String, name: String) = s"$sfDir/$name.parquet"

  /** Inferred parquet SCHEMA per path, cached for the JVM lifetime (r18
    * optimization): without it every `spark.read.parquet` call pays
    * footer-based schema inference — a 1-task driver job per table read,
    * repeated for every one of the registry's ~278 query builds in a
    * bench run. This is METADATA caching only (the catalog role a
    * metastore plays in production — fixture files are immutable for a
    * process lifetime); no data or results are cached, and the first
    * read of each path still infers from the actual footer, so the
    * schema can never drift from the file. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), org.apache.spark.sql.types.StructType]()

  private def read(spark: SparkSession, path: String): DataFrame = {
    // keyed by (path, dir mtime), not path alone (r18 advice): an
    // in-JVM generator that rewrites a fixture path with
    // mode("overwrite") — ScaleStress, the audit tools — bumps the
    // directory mtime, so the rewritten table re-infers instead of
    // being served a stale schema. Stale entries for dead mtimes are
    // bounded by the handful of fixture paths a JVM ever touches.
    val key = (path, new java.io.File(path).lastModified)
    spark.read.schema(
      schemaCache.computeIfAbsent(key, _ => spark.read.parquet(path).schema))
      .parquet(path)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame     = read(spark, p(sfDir, "region"))
  def nation(spark: SparkSession, sfDir: String): DataFrame     = read(spark, p(sfDir, "nation"))
  def customer(spark: SparkSession, sfDir: String): DataFrame   = read(spark, p(sfDir, "customer"))
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = read(spark, p(sfDir, "supplier"))
  def part(spark: SparkSession, sfDir: String): DataFrame       = read(spark, p(sfDir, "part"))
  def orders(spark: SparkSession, sfDir: String): DataFrame     = read(spark, p(sfDir, "orders"))
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = read(spark, p(sfDir, "lineitem"))
  def documents(spark: SparkSession, sfDir: String): DataFrame  = read(spark, p(sfDir, "documents"))
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, p(sfDir, "embeddings"))

  /** Round-robin spread of a COMPACT source ahead of a CPU-bulk stage
    * (per-shingle md5s, masked-key explodes, signature kernels), GUARDED
    * by the source's planned scan parallelism (r19 scale guard; closes
    * r18 What's-wrong #1): at fixture scale the parquet source is one
    * split and the repartition is what keeps the downstream CPU bulk off
    * a single task (measured 5× on minhash_lsh, r14), but at cluster
    * scale the same scan is thousands of splits and an UNCONDITIONAL
    * repartition would round-robin the raw corpus bytes for nothing —
    * and even REDUCE parallelism to defaultParallelism.
    *
    * The partition count comes from the planned RDD of the frame's own
    * physical plan: for a plan with no shuffle that is split planning,
    * not execution, so the guard runs no job. A plan that would need an
    * exchange (an aggregate, a join, a sort) could run one while the
    * query is still being built — with AQE its shuffle stages execute
    * to answer the count — so such a frame is rejected. */
  private[graft] def spreadCompactSource(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    require(!qe.sparkPlan.exists {
        case _: Exchange => true
        case p => p.requiredChildDistribution.exists(_ != UnspecifiedDistribution)
      }, s"spreadCompactSource needs a shuffle-free source plan, got:\n${qe.sparkPlan}")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (qe.toRdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Historically the driver wrote `events.ts` as parquet TIMESTAMP(NANOS)
    * (current fixtures write microseconds — the LongType branch below is
    * the compatibility net); Spark has no nanosecond timestamp type. Read
    * nanos as raw longs (legacy conf) and truncate to microseconds — the
    * identical truncation DuckDB applies when it loads the same file — so
    * oracle comparisons stay exact. If a future Spark
    * reads NANOS natively the schema check falls through untouched.
    *
    * The conf set is deliberately NOT restored: the parquet reader
    * consults it again at execution time (the scan's hadoopConf snapshot
    * is taken when the physical plan runs), so a set-then-restore would
    * make the deferred action fail on the NANOS column. Harness session
    * builders (Verify/Bench/tests) also set it up front; this set is the
    * safety net for sessions handed in by the driver.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // schema cached AFTER the conf set, so the cached entry is always the
    // nanosAsLong-shaped one every harness session reads with
    val df = read(spark, p(sfDir, "events"))
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }
}

/** Determinism helpers for float aggregates (SURVEY.md §5.1, FIXTURES.md).
  *
  * Summing doubles is order-dependent; Spark's shuffle-merge order and
  * DuckDB's scan order differ, so `round(sum(x), 2)` can flake at a cent
  * boundary. Instead: cast each addend to an exact DECIMAL first, sum in
  * decimal (exact, order-independent — also merge-order-independent across
  * 1000 executors), cast the total back to DOUBLE. The fixture money
  * columns carry exactly 2 decimal digits, so the decimal cast is lossless.
  */
object Det {
  /** Exact sum of a 2-decimal money column, returned as DOUBLE. */
  def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact sum of a product of 2-decimal columns (4 decimal digits). */
  def moneySum4(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast(DoubleType)

  /** DuckDB spelling of [[moneySum]]. */
  def sqlMoneySum(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  /** DuckDB spelling of [[moneySum4]]. */
  def sqlMoneySum4(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
}
