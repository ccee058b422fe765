package graft

import org.apache.spark.sql.SparkSession

/** The one builder of every graft session: the `main`s and the test
  * session all come through here, so the settings every oracle depends on
  * are written down once.
  *
  *  - the graft planner extensions (the top-K rewrite is live);
  *  - session time zone UTC;
  *  - `events.parquet`'s TIMESTAMP(NANOS) column read as a long
  *    (`Tables.events` converts it);
  *  - driver-generated fixtures carry naive (isAdjustedToUTC=false) parquet
  *    timestamps; they are read as TIMESTAMP (session tz = UTC), not NTZ,
  *    so unix_micros/window arithmetic keeps the semantics every oracle
  *    pins;
  *  - no UI, WARN logging.
  *
  * Shuffle partitions default to the core count. `conf` carries only the
  * settings a caller needs that differ from these, and is applied last.
  */
object GraftSession {
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
