package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Logical-plan access that the public Dataset API does not give.
  *
  * `Dataset.ofRows` is `private[sql]`, as [[ColumnBridge]]'s conversions
  * are; it is used here for [[withoutScanLayout]] only.
  */
object PlanBridge {

  /** `df` with each `localCheckpoint`ed scan under it forgetting its output
    * partitioning and ordering; `df` itself when no scan carries either.
    *
    * A checkpoint keeps the partitioning and ordering of the plan it
    * materialized (a sort, or an aggregate planned with AQE off). Spark
    * 4.1's `RDDScanExec` keeps their attribute ids in its canonical form,
    * so once a self-join or union gives the scan's second copy fresh ids,
    * no exchange above the two copies is reused. Forgetting the layout
    * makes the copies' canonical forms equal again; an operator that
    * relied on it plans its own exchange or sort instead.
    */
  def withoutScanLayout(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = ds.logicalPlan.transformUp {
      case r: LogicalRDD if r.outputPartitioning.isInstanceOf[Expression] ||
          r.outputOrdering.nonEmpty =>
        r.copy(outputPartitioning =
            UnknownPartitioning(r.outputPartitioning.numPartitions),
          outputOrdering = Nil)(
          ds.sparkSession, Some(r.computeStats()), Some(r.constraints))
    }
    if (plan eq ds.logicalPlan) df
    else classic.Dataset.ofRows(ds.sparkSession, plan)
  }
}
