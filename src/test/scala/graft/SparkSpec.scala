package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites run
  * sequentially in the forked test JVM). */
object SparkTestSession {
  // local[4] with 4 shuffle partitions, fixed: plan-shape and partition
  // count assertions must not follow the host's core count
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = "/root/testdata/sf0.001"
  def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** `body` with the session conf `kvs` set, each key's prior value (or
    * its absence) restored afterwards, whatever `body` does. */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
