package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite wall-time dominated by work, not Spark startup). Pinned to
  * local[4] regardless of SPARK_GRAFT_CPUS, so every host runs the suites
  * at the same width.
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.local("4").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  /** Run `body` with the session conf `kvs` set, then restore each key to
    * its previous value (or unset it) — the shared session outlives every
    * suite, so a leaked conf would change the plans of later tests.
    */
  def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
