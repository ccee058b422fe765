package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The ONE unpersist-or-cache rule for pinned intermediates (r16 verdict
  * stretch #9): a query builder that calls `.persist()` on a derived
  * frame pins a fresh copy per INVOCATION for the session lifetime — the
  * pattern the r15/r16 reviews found three separate times (the PPJoin
  * token-set table, the digest table, `capBandBuckets`' postings). Any
  * builder that wants a multi-consumer intermediate pinned routes it
  * through [[pinned]] instead: ONE persisted copy per (application,
  * canonical plan), rebuilt transparently if evicted (`clearCache()`
  * drops the storage and the `storageLevel == NONE` check rebuilds).
  *
  * The cache key is the CANONICALIZED analyzed plan itself, compared
  * structurally (plus the application id), so it needs no per-site key
  * discipline: two calls that build the same plan over the same source
  * share the entry, while a different corpus dir (different scan path)
  * or a different steering conf (different literals baked into the plan
  * — e.g. `sem.nprobe`'s rank bound) keys separately by construction.
  * Deliberately session-lifetime: in production these ARE the
  * materialized intermediate tables of the ingest (the token-set and
  * digest tables among them), rebuilt per corpus version, not per query.
  */
private[graft] object PinCache {
  // keyed on the canonicalized LogicalPlan OBJECT (structural equality),
  // not an md5 of its toString: plan rendering elides field lists past
  // spark.sql.debug.maxToStringFields ("... N more fields"), so two
  // different plans could hash identically and pinned() would silently
  // serve the wrong frame (r17 advice, medium). Structural equality has
  // no such truncation.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan),
    DataFrame]()

  def pinned(df: DataFrame): DataFrame = {
    // evict entries whose session is gone (r17 advice, low): the map
    // otherwise holds strong references to DataFrames — and through them
    // stopped SparkSessions — forever, accumulating across test suites
    // and multi-app JVMs
    cache.entrySet.removeIf(e =>
      e.getValue.sparkSession.sparkContext.isStopped)
    // the ANALYZED plan, not `logical`: the parsed plan of a SQL frame
    // names its tables (`UnresolvedRelation(lineitem)`) without the scan
    // path behind them, so two corpora's `spark.sql` pins shared one key
    val key = (df.sparkSession.sparkContext.applicationId,
      df.queryExecution.analyzed.canonicalized)
    cache.compute(key, (_, old) =>
      if (old != null && old.storageLevel != StorageLevel.NONE) old
      else df.persist())
  }
}
