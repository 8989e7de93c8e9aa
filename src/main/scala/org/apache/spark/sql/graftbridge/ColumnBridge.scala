package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression ⇄ Column bridge for graft's native Catalyst expressions.
  *
  * Spark 4's `Column` wraps a ColumnNode (the Connect-era refactor), so
  * a library can no longer construct `new Column(expr)`; the sanctioned
  * conversion lives in `org.apache.spark.sql.classic.ExpressionUtils`,
  * which is `private[sql]`. This subpackage of `org.apache.spark.sql`
  * re-exposes exactly the two conversions — the same pattern every Spark
  * extension library uses for classic-mode expression columns. Its one
  * other use of Spark's internals is [[PlanBridge]].
  * Calling a registered function by name instead would need a live
  * SparkSession, which pure `Column => Column` scalar helpers
  * (graft.ops.Scalars) don't have, and would make building a query
  * register functions in the caller's session.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
