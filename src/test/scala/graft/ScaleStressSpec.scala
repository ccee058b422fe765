package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Both scale-audit modes, driven below `ScaleStress.main` on the shared
  * test session, over sf0.01 synthesized ×2; each JSON is checked as
  * `main` prints it. */
class ScaleStressSpec extends SparkSpec {
  // the sf0.01 fixture, next to the shared sf0.001 one
  private val small = s"${new java.io.File(sf).getParent}/sf0.01"
  private val factor = 2
  private lazy val big = ScaleStress.synthesize(spark, small, factor,
    Some(Set("lineitem", "part", "supplier", "nation", "region")))
  private val Partitions = "spark.sql.shuffle.partitions"

  /** A query lookup that records each build (query, corpus, shuffle
    * partition count at build time) and adds `boom`, which throws.
    * Builds run on the bounded-run thread, which `timedRun` joins before
    * the next run starts, so a plain buffer is safe. */
  private def recording(): (mutable.ArrayBuffer[(String, String, String)],
      String => (SparkSession, String) => DataFrame) = {
    val builds = mutable.ArrayBuffer[(String, String, String)]()
    val queries: String => (SparkSession, String) => DataFrame = {
      case "boom" => (_, _) => throw new IllegalStateException("boom")
      case name => (s, dir) =>
        builds += ((name, dir, s.conf.get(Partitions)))
        SparkEntry.queries(name)(s, dir)
    }
    (builds, queries)
  }

  private def printed(json: JObject): JValue = parse(compact(render(json)))

  private def keys(v: JValue): Set[String] = v.asInstanceOf[JObject].obj.map(_._1).toSet

  test("exponent: two samples per query and corpus, a throwing query is failed, the conf is restored") {
    val (builds, queries) = recording()
    val before = spark.conf.get(Partitions)
    // sql_q2_mincost runs the big corpus at data-sized partitions
    // (32 x 2); global_agg runs after it with no scale-path conf
    val heavies = Seq(
      ScaleStress.Heavy("sql_q2_mincost", "linear", 1.25,
        ScaleStress.scalePathConf("sql_q2_mincost", _)),
      ScaleStress.Heavy("boom", "throws", 1.0),
      ScaleStress.Heavy("global_agg", "one scan", 1.2))
    val json = printed(ScaleStress.exponent(spark, small, big, factor, heavies, queries))

    val runs = builds.toSeq
    for (q <- Seq("sql_q2_mincost", "global_agg"); dir <- Seq(small, big))
      assert(runs.count(r => r._1 == q && r._2 == dir) === 2, s"$q over $dir")
    assert(json \ "failed" === JArray(List(JString("boom"))))
    assert(keys(json) ===
      Set("sf_small", "factor", "shuffle_codec", "queries", "n_over_model", "failed"))
    assert(keys(json \ "queries") === Set("sql_q2_mincost", "global_agg"))
    assert(json \ "queries" \ "sql_q2_mincost" \ "big_conf" \ Partitions === JString("64"))
    assert(!keys(json \ "queries" \ "global_agg").contains("big_conf"))

    assert(runs.filter(r => r._1 == "sql_q2_mincost" && r._2 == big).map(_._3).distinct === Seq("64"))
    assert(runs.filter(_._1 == "global_agg").map(_._3).distinct === Seq(before),
      "a query after a data-sized one must run at the session's partition count")
    assert(spark.conf.get(Partitions) === before)
  }

  test("cores: samples the big corpus only, keeps the SCALE_r19_cores keys, lists the throwing query") {
    val (builds, queries) = recording()
    val json = printed(ScaleStress.cores(spark, big, factor, Seq("global_agg", "boom"), queries))
    val runs = builds.toSeq
    assert(runs.nonEmpty && runs.forall(_._2 == big))
    assert(keys(json) === Set("cpus", "factor", "shufflePartitions", "dir", "queries", "failed"))
    assert(json \ "failed" === JArray(List(JString("boom"))))
    val JArray(samples) = json \ "queries" \ "global_agg" \ "samples": @unchecked
    assert(samples.size === runs.size && samples.size >= 2 && samples.size <= 3)
    assert(json \ "queries" \ "global_agg" \ "min" === JDouble(samples.collect { case JDouble(d) => d }.min))
  }
}
