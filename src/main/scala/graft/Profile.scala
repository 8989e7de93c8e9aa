package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletableFuture, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The dev profiler (guide §1: measure first, empirically): run declared
  * queries under the bench session config and print, per query, the best
  * build+write wall time, the last run's jobs/stages/tasks, the Janino
  * compile ms of the warm-up (cold) and last runs, and, per
  * executed-plan operator of the last run, the post-run SQL metrics (rows,
  * time, shuffle bytes, spill) so hot operators are attributable without
  * the Spark UI (disabled in the bench). Whether AQE re-planned a shuffle
  * (`AQEShuffleRead`) reads off the same dump.
  *
  * `sbt "runMain graft.Profile q63_percentiles"`; env SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS as in Bench; SPARK_GRAFT_PROF_RUNS timed runs after one
  * warm-up (default 2). SPARK_GRAFT_PLAN_DIR also writes each query's
  * `explain("formatted")` of that final executed plan to
  * `<dir>/<query>_<SPARK_GRAFT_PLAN_TAG>.txt` (tag default `plan`; the
  * optimization-round evidence files, e.g.
  * plans/r16/q63_percentiles_before.txt).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROF_RUNS", "2").toInt
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "plan")
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else Seq("q06_group_measures")

    def dump(p: SparkPlan, indent: Int): Unit = {
      val ms = p.metrics.toSeq
        .filter { case (_, m) => m.value != 0 && m.value != -1 }
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(" ")
      println("  " * indent + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
      p match {
        case a: AdaptiveSparkPlanExec => dump(a.executedPlan, indent + 1)
        case q: QueryStageExec => dump(q.plan, indent + 1)
        case _ => p.children.foreach(dump(_, indent + 1))
        }
      p.subqueries.foreach { sq => println("  " * (indent + 1) + "SUBQUERY:");
        dump(sq, indent + 2) }
    }

    // per-query job/stage accounting: at local bench scale the fixed
    // per-job and per-stage overheads dominate, so the JOB COUNT is the
    // first metric to read (guide §1.1 empirical loop)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
        }
      })
    // Janino split: ms spent compiling generated classes while `f` ran
    // (CodeGenerator's exact ns total; CodegenMetrics only keeps a sampled
    // histogram of compile times)
    def compileMs(f: => Unit): Long = {
      val t0 = CodeGenerator.compileTime
      f
      (CodeGenerator.compileTime - t0) / 1000000
    }

    names.foreach { n =>
      val q = Queries.byName(n)
      // warm-up pays the cold codegen compile; bench-faithful timing =
      // build + write
      val cold = compileMs(noopWrite(q.build(spark, sfDir)))
      var best = Double.MaxValue
      var bestBuild = Double.MaxValue
      var (nj, ns, nt) = (0, 0, 0)
      var last = 0L
      var written: CompletableFuture[QueryExecution] = null
      (1 to runs).foreach { r =>
        val (j0, s0, t0c) = (jobs.get(), stages.get(), tasks.get())
        last = compileMs {
          val t0 = System.nanoTime()
          val df = q.build(spark, sfDir)
          val tb = (System.nanoTime() - t0) / 1e9
          written = noopWrite(df)
          val dt = (System.nanoTime() - t0) / 1e9
          if (dt < best) { best = dt; bestBuild = tb }
        }
        if (r == runs) {
          nj = jobs.get() - j0; ns = stages.get() - s0; nt = tasks.get() - t0c
        }
      }
      println(f"===== $n  best=$best%.3f s (build-phase $bestBuild%.3f s, " +
        f"jobs=$nj stages=$ns tasks=$nt, compile ms warm-up=$cold " +
        f"last=$last) =====")
      // bounded wait: the listener bus is async (ADVICE r16 #2)
      val qe = written.get(30, TimeUnit.SECONDS)
      dump(qe.executedPlan, 0)
      planDir.foreach { d =>
        Files.write(Paths.get(d, s"${n}_$tag.txt"),
          qe.explainString(FormattedMode).getBytes("UTF-8"))
      }
    }
    spark.stop()
  }

  /** Run `df`'s full declared plan through a noop write, as Bench does, and
    * complete with the QueryExecution of THAT write once the async listener
    * bus delivers it (its executedPlan is then the final AQE plan with
    * metrics). `df.queryExecution` would be the un-executed initial plan:
    * the write runs its own QueryExecution. Warm-up writes, earlier runs
    * and every eager `localCheckpoint` inside `build` also fire
    * QueryExecutionListener events, so the write's event is matched by its
    * name and by its QueryExecution being created after `df`'s (ids are
    * issued in creation order), never as "the latest plan seen".
    */
  private[graft] def noopWrite(
      df: DataFrame): CompletableFuture[QueryExecution] = {
    val fence = df.queryExecution.id
    val written = new CompletableFuture[QueryExecution]
    def ours(funcName: String, qe: QueryExecution) =
      funcName == "overwrite" && qe.id > fence
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (ours(funcName, qe)) written.complete(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit =
        if (ours(funcName, qe)) written.completeExceptionally(exception)
    }
    val lm = df.sparkSession.listenerManager
    lm.register(listener)
    written.whenComplete((_, _) => lm.unregister(listener))
    df.write.format("noop").mode("overwrite").save()
    written
  }
}
