package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}

import graft.ops.ProcessedLog

/** Batch idempotency (T4 analog): unprocessed-unit selection via anti-join
  * against the processed log, re-run safety, incremental arrival.
  */
class ProcessedLogSpec extends SparkSpec {
  import spark.implicits._

  test("pending → mark → pending cycle is exactly-once over work units") {
    val log = java.nio.file.Files.createTempDirectory("plog").toString + "/log"
    val keys = Seq("locale_page", "chunk")
    val units1 = Seq(("en-us/1", 0), ("en-us/1", 1), ("en-us/2", 0))
      .toDF("locale_page", "chunk")

    // empty log → everything pending
    val p1 = ProcessedLog.pending(units1, log, keys)
    assert(p1.count() == 3)

    // process + mark two of them
    ProcessedLog.mark(p1.filter($"chunk" === 0), log, keys)
    val p2 = ProcessedLog.pending(units1, log, keys)
    assert(p2.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("en-us/1", 1)))

    // re-run with the same inputs → already-marked units stay excluded
    ProcessedLog.mark(p2, log, keys)
    assert(ProcessedLog.pending(units1, log, keys).count() == 0)

    // new unit arrives → only it is pending (resume semantics)
    val units2 = units1.union(Seq(("en-ca/1", 0)).toDF("locale_page", "chunk"))
    val p3 = ProcessedLog.pending(units2, log, keys).collect()
    assert(p3.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("en-ca/1", 0)))

    // double-marking is harmless
    ProcessedLog.mark(units2, log, keys)
    ProcessedLog.mark(units2, log, keys)
    assert(ProcessedLog.pending(units2, log, keys).count() == 0)
  }

  /** Jobs started and stages submitted while `body` ran. A sentinel job
    * closes each side: the listener bus delivers events in order, so once
    * the sentinel's start arrives every earlier event has been counted.
    */
  private def jobsAndStagesOf(body: => Unit): (Int, Int) = {
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

  test("a gate on a non-empty log runs two jobs: the log's broadcast and " +
    "the action (no schema inference, no dedup shuffle)") {
    val log = java.nio.file.Files.createTempDirectory("plog").toString + "/log"
    val keys = Seq("locale_page", "chunk")
    ProcessedLog.mark(Seq(("en-us/1", 0)).toDF("locale_page", "chunk"),
      log, keys)
    val units = Seq(("en-us/1", 0), ("en-us/1", 1)).toDF("locale_page", "chunk")
    var open = false
    assert(jobsAndStagesOf {
      open = !ProcessedLog.pending(units, log, keys).isEmpty
    }._1 == 2)
    assert(open)
  }

  test("mark is one job of one stage: an append with no dedup shuffle") {
    val log = java.nio.file.Files.createTempDirectory("plog").toString + "/log"
    val keys = Seq("locale_page", "chunk")
    val units = Seq(("en-us/1", 0), ("en-us/1", 0), ("en-us/2", 1))
      .toDF("locale_page", "chunk")
    assert(jobsAndStagesOf(ProcessedLog.mark(units, log, keys)) == (1, 1))
    assert(ProcessedLog.pending(units, log, keys).count() == 0)
  }

  test("pending treats a log path that is a file, not a directory, as " +
    "an empty log") {
    val log = java.nio.file.Files.createTempFile("plog", ".txt").toString
    val units = Seq(("en-us/1", 0)).toDF("locale_page", "chunk")
    assert(ProcessedLog.pending(units, log, Seq("locale_page", "chunk"))
      .count() == 1)
  }
}
