package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Profile must report the executed plan of the run it timed: the final
  * AQE plan of that run's noop write, not the plan of a warm-up write or
  * of an eager localCheckpoint fired while `build` ran.
  */
class ProfileSpec extends SparkSpec {

  test("noopWrite captures the final AQE plan of its own write past " +
      "a warm-up write and build's eager checkpoints") {
    val q = Queries.byName("q53_minhash_band_pairs")
    // Hold the async listener bus so the warm-up write's and the eager
    // checkpoints' events are all still undelivered when the capture
    // listener registers — the race a "latest plan seen" capture loses.
    val gate = new CountDownLatch(1)
    val hold = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { gate.await(60, TimeUnit.SECONDS); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(hold)
    val (df, written) =
      try {
        Profile.noopWrite(q.build(spark, sf)) // warm-up
        val df = q.build(spark, sf) // eager localCheckpoint inside
        (df, Profile.noopWrite(df))
      } finally {
        gate.countDown()
        spark.listenerManager.unregister(hold)
      }
    val plan = written.get(30, TimeUnit.SECONDS).executedPlan
    assert(plan.nodeName.startsWith("OverwriteByExpression"),
      s"not the write's plan:\n$plan")
    val aqe = plan.collect { case a: AdaptiveSparkPlanExec => a }
    assert(aqe.nonEmpty && aqe.forall(_.isFinalPlan),
      s"not the final AQE plan:\n$plan")
    assert(plan.children.map(_.output.map(_.exprId)) ==
      Seq(df.queryExecution.analyzed.output.map(_.exprId)),
      s"plan of another build's write:\n$plan")
  }
}
