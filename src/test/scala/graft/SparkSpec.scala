package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GraftExtensions

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

  /** A second session over the same SparkContext, built with
    * `graft.ops.GraftExtensions`: the SQL-text route to the native
    * functions and the band-join rule. Built once; [[spark]] stays the
    * active and default session.
    */
  lazy val extensions: SparkSession = {
    spark // the shared SparkContext must exist before the second session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try Sessions.local("4").withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  /** The session with the SQL functions (see [[TestSession.extensions]]). */
  def extSpark: SparkSession = TestSession.extensions

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

  /** Assert that the parquet table at `dir` holds exactly the rows of
    * `src`, as a multiset (an ingest table's partition columns come last,
    * so columns are matched by name).
    */
  def assertTableRows(dir: String, src: DataFrame): Unit = {
    val got = spark.read.parquet(dir).select(src.columns.map(col): _*)
    assert(got.count() == src.count(),
      s"${got.count()} rows for ${src.count()} source rows: duplicates or loss")
    assert(got.exceptAll(src).isEmpty && src.exceptAll(got).isEmpty,
      "the table is not multiset-equal to the source")
  }

  /** Jobs started and stages submitted while `body` ran. A sentinel job
    * closes each side: the listener bus delivers events in order, so once
    * the sentinel's start arrives every earlier event has been counted.
    */
  def jobsAndStagesOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val submitted = new AtomicInteger
    @volatile var sentinel = new CountDownLatch(1)
    def isSentinel(props: java.util.Properties) =
      Option(props).exists(_.getProperty("graft.sentinel") != null)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (isSentinel(j.properties)) sentinel.countDown()
        else started.incrementAndGet()
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit =
        if (!isSentinel(st.properties)) submitted.incrementAndGet()
    }
    def drain(): Unit = {
      sentinel = new CountDownLatch(1)
      sc.setLocalProperty("graft.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      assert(sentinel.await(30, TimeUnit.SECONDS), "listener bus not drained")
    }
    sc.addSparkListener(listener)
    try {
      drain(); started.set(0); submitted.set(0)
      body
      drain(); (started.get(), submitted.get())
    } finally sc.removeSparkListener(listener)
  }

  /** The shuffle exchanges `keep` selects in `df`'s plan, planned with AQE
    * off: for each exchange Spark plans, how many operators read it (1,
    * plus one per ReusedExchange of it). `df` is built inside, under the
    * same conf.
    */
  def exchangeReads(df: => DataFrame)(
      keep: ShuffleExchangeExec => Boolean): Seq[Int] =
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = df.queryExecution.executedPlan
      val reused = plan.collect {
        case ReusedExchangeExec(_, e: ShuffleExchangeExec) => e
      }
      plan.collect { case e: ShuffleExchangeExec if keep(e) => e }
        .map(e => 1 + reused.count(_ eq e))
    }
}
