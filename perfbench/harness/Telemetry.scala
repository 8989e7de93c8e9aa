package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** Layer counters of one span, filled from listener events. */
final class Acc {
  var jobs, checkpointJobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, peakMem = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var inputBytes, inputRows, inputFiles = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var compiles, compileNs = 0L
  var batches, streamRows, addBatchMs, walCommitMs = 0L
  val batchMs = mutable.ArrayBuffer.empty[Long]
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val jobRecs = mutable.ArrayBuffer.empty[JobRec]
}

/** A Spark job of a span, and its stages, as the listener saw them. */
final case class JobRec(id: Int, site: String, start: Long) {
  var end: Long = start
  val stages = mutable.ArrayBuffer.empty[StageRec]
}
final case class StageRec(id: Int, attempt: Int, tasks: Int, start: Long,
    end: Long)

/** One timed operation. Times are epoch milliseconds (fractional). */
final case class Span(id: Long, name: String, kind: String, parent: Long,
    phase: String, start: Double) {
  var end: Double = start
  val acc = new Acc
  def wallS: Double = (end - start) / 1e3
}

/** Per-layer trace taken from outside the engine: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener registered by the
  * benchmark, plus the process-wide codegen counters. Spark events carry
  * the span id as a job-local property; events without properties
  * (query-execution and streaming callbacks) go to the innermost open
  * span, which is exact because every span end drains the listener bus.
  */
final class Telemetry(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private var stack = List.empty[Span]
  @volatile private var current: Span = _
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val jobRec = mutable.HashMap.empty[Int, JobRec]
  private var jobsStarted, jobsEnded = 0L
  private var attached = false
  private val lock = new Object

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(Telemetry.Key)))
      .flatMap(id => byId.get(id.toLong)).getOrElse(current)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobsStarted += 1
      val s = spanOf(e.properties)
      if (s != null) {
        s.acc.jobs += 1
        // the job's call site, which Spark gives its result stage as name
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        if (site.startsWith("localCheckpoint")) s.acc.checkpointJobs += 1
        val j = JobRec(e.jobId, site, e.time)
        s.acc.jobRecs += j
        jobRec(e.jobId) = j
        e.stageIds.foreach { id =>
          stageSpan.getOrElseUpdate(id, s)
          stageJob.getOrElseUpdate(id, j)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobsEnded += 1
      jobRec.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        stageSpan.get(i.stageId).foreach(_.acc.stages += 1)
        stageJob.get(i.stageId).foreach(_.stages += StageRec(i.stageId,
          i.attemptNumber(), i.numTasks, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stageSpan.getOrElse(e.stageId, current)
      if (s != null && e.taskInfo != null) {
        val a = s.acc
        a.tasks += 1
        a.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spill += m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRows += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private object qeListener extends QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      lock.synchronized {
        val s = current
        if (s != null) {
          val ph = qe.tracker.phases
          def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
          s.acc.analysisMs += ms("analysis")
          s.acc.optimizationMs += ms("optimization")
          s.acc.planningMs += ms("planning")
          s.acc.inputFiles += collectWithSubqueries(qe.executedPlan) {
            case f: FileSourceScanExec =>
              f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum
        }
      }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val s = current
      val p = e.progress
      if (s != null && p.numInputRows > 0) {
        def ms(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s.acc.batches += 1
        s.acc.streamRows += p.numInputRows
        s.acc.batchMs += ms("triggerExecution")
        s.acc.addBatchMs += ms("addBatch")
        s.acc.walCommitMs += ms("walCommit")
      }
    }
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Wait until every posted event is delivered and every started job has
    * ended, so the counters are read complete. */
  def drain(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val deadline = System.nanoTime() + 10000000000L
    while (lock.synchronized(jobsEnded < jobsStarted) &&
        System.nanoTime() < deadline) {
      Thread.sleep(2)
      org.apache.spark.perfbench.Bus.drain(sc)
    }
  }

  private var nextId = 0L

  /** Run `f` as a span; its jobs, stages, tasks and codegen compiles are
    * charged to it. Returns the span and the result. */
  def span[T](name: String, kind: String, phase: String)(f: => T): (Span, T) = {
    nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(nextId, name, kind, parent, phase, Telemetry.nowMs())
    lock.synchronized { spans += s; byId(s.id) = s }
    stack = s :: stack
    current = s
    val prevProp = sc.getLocalProperty(Telemetry.Key)
    sc.setLocalProperty(Telemetry.Key, s.id.toString)
    val c0 = Telemetry.compiles
    val n0 = CodeGenerator.compileTime
    try {
      val r = f
      s.end = Telemetry.nowMs()
      (s, r)
    } finally {
      if (s.end == s.start) s.end = Telemetry.nowMs()
      // self counts: the compiles of child spans are charged to them
      val dc = Telemetry.compiles - c0
      val dn = CodeGenerator.compileTime - n0
      s.acc.compiles += dc
      s.acc.compileNs += dn
      if (attached) drain()
      sc.setLocalProperty(Telemetry.Key, prevProp)
      stack = stack.tail
      current = stack.headOption.orNull
      stack.headOption.foreach { p =>
        p.acc.compiles -= dc
        p.acc.compileNs -= dn
      }
    }
  }

  /** Every span as a JSON line: the benchmark's operation spans, and
    * under each the Spark jobs it started and under each job its stages. */
  def spanJson: Seq[String] = spans.toSeq.flatMap { s =>
    val a = s.acc
    def line(id: String, parent: String, name: String, kind: String,
        start: Double, end: Double, more: (String, String)*) =
      Json.obj(Seq("run" -> Json.str(runId), "id" -> Json.str(id),
        "parent" -> Json.str(parent), "name" -> Json.str(name),
        "kind" -> Json.str(kind), "phase" -> Json.str(s.phase),
        "start_ms" -> Json.num(start), "end_ms" -> Json.num(end)) ++ more)
    val op = line(s"o${s.id}", if (s.parent == 0) "" else s"o${s.parent}",
      s.name, s.kind, s.start, s.end,
      "jobs" -> a.jobs.toString, "stages" -> a.stages.toString,
      "tasks" -> a.tasks.toString,
      "checkpoint_jobs" -> a.checkpointJobs.toString,
      "codegen_compiles" -> a.compiles.toString,
      "shuffle_write_bytes" -> a.shuffleWrite.toString)
    op +: a.jobRecs.toSeq.flatMap { j =>
      line(s"j${j.id}", s"o${s.id}", j.site, "job", j.start, j.end) +:
        j.stages.toSeq.map { st =>
          line(s"s${st.id}.${st.attempt}", s"j${j.id}", s"stage ${st.id}",
            "stage", st.start, st.end, "tasks" -> st.tasks.toString)
        }
    }
  }
}

object Telemetry {
  val Key = "perfbench.span"
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  import Harness.median

  /** Wall time of `s` during which no task of it or its children ran. */
  private def driverOnlyMs(s: Span, kids: Seq[Span]): Double = {
    val iv = (s +: kids).flatMap(_.acc.taskSpans).sortBy(_._1)
    var busy = 0.0
    var curS = -1.0
    var curE = -1.0
    iv.foreach { case (a0, b0) =>
      val a = math.max(a0.toDouble, s.start)
      val b = math.min(b0.toDouble, s.end)
      if (b > a) {
        if (a > curE) { if (curE > curS) busy += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    }
    if (curE > curS) busy += curE - curS
    math.max(0.0, (s.end - s.start) - busy)
  }

  /** Per-layer metrics over query-execution spans (`execs`, each with a
    * build and a write child), normalised per sweep. */
  def queryLayers(execs: Seq[Span], children: Long => Seq[Span],
      sweeps: Int, cores: Int): Seq[(String, Double)] = {
    val n = math.max(1, sweeps).toDouble
    val all = execs.flatMap(e => e +: children(e.id))
    val accs = all.map(_.acc)
    val builds = execs.flatMap(e => children(e.id).filter(_.kind == "build"))
    def sum(f: Acc => Double) = accs.map(f).sum / n
    val wall = execs.map(_.wallS).sum
    val runS = accs.map(_.runMs).sum / 1e3
    val stageSizes = accs.flatMap(_.stageTasks.values.map(_.size.toDouble))
    val skew = accs.flatMap(_.stageTasks.values.filter(_.size >= 2).map { ts =>
      ts.max.toDouble / math.max(1.0, median(ts.map(_.toDouble).toSeq))
    })
    Seq(
      "build_s" -> builds.map(_.wallS).sum / n,
      "build_jobs" -> builds.map(_.acc.jobs.toDouble).sum / n,
      "analysis_s" -> sum(_.analysisMs) / 1e3,
      "optimization_s" -> sum(_.optimizationMs) / 1e3,
      "planning_s" -> sum(_.planningMs) / 1e3,
      "codegen_compiles" -> sum(_.compiles.toDouble),
      "codegen_compile_s" -> sum(_.compileNs.toDouble) / 1e9,
      "jobs" -> sum(_.jobs.toDouble),
      "stages" -> sum(_.stages.toDouble),
      "tasks" -> sum(_.tasks.toDouble),
      "checkpoint_jobs" -> sum(_.checkpointJobs.toDouble),
      "driver_only_s" ->
        execs.map(e => driverOnlyMs(e, children(e.id))).sum / 1e3 / n,
      "executor_run_s" -> runS / n,
      "executor_cpu_s" -> sum(_.cpuNs.toDouble) / 1e9,
      "gc_s" -> sum(_.gcMs.toDouble) / 1e3,
      "core_busy_share" -> (if (wall > 0) runS / (wall * cores) else 0.0),
      "tasks_per_stage_p50" -> median(stageSizes),
      "task_skew" -> (if (skew.isEmpty) 0.0 else skew.max),
      "peak_execution_memory_bytes" ->
        (if (accs.isEmpty) 0.0 else accs.map(_.peakMem).max.toDouble),
      "shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "shuffle_fetch_wait_s" -> sum(_.fetchWaitMs.toDouble) / 1e3,
      "spill_bytes" -> sum(_.spill.toDouble),
      "input_bytes" -> sum(_.inputBytes.toDouble),
      "input_rows" -> sum(_.inputRows.toDouble),
      "input_files" -> sum(_.inputFiles.toDouble))
  }

  def batchP50S(s: Span): Double = median(s.acc.batchMs.map(_ / 1e3).toSeq)
}

/** Minimal JSON writer (the harness has no JSON library of its own). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Seq[Double]): String = arr(xs.map(num))
}
