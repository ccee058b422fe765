package graft
import java.nio.file.{Files, Paths}

import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

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
    // json4s escapes quotes, backslashes and every control char, so a
    // tab or CR in builder-authored SQL cannot break the driver's json.load
    val json = compact(render(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
