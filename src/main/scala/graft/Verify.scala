package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // extra args = subset of query names (local iteration; driver passes 2)
    val only = args.drop(2).toSet
    val spark = GraftSession.local(GraftConf.cpuSpec(4)._2)
    new java.io.File(outDir).mkdirs()
    // O12 monitor/await applied to the correctness driver too (round-10
    // verdict #3): each query runs under a tagged job-group bound, so ONE
    // wedged query becomes a per-query `err` in the correctness artifact
    // instead of stalling the whole 200-query oracle pass. Same kill path
    // as Bench.timeOne (GuardOps cancels the group and the session lives).
    val queryTimeoutMs =
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_QUERY_TIMEOUT_MS", "300000").toLong
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try ops.GuardOps.runBounded(spark, s"verify-$name", queryTimeoutMs) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
