package graft.ops

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for PSL-aware registered-domain extraction —
  * the v2 upgrade of DomainParse's Scala UDF (SURVEY.md §4.2: "Expression
  * w/ codegen if it shows up hot").
  *
  * Compared to the UDF tier this participates in whole-stage codegen: no
  * UTF8String→String→Row round-trip through the UDF encoder machinery, no
  * closure dispatch — the generated code calls a static method directly and
  * stays inside the fused pipeline stage. Null-safe per UnaryExpression.
  */
case class RegisteredDomainExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"registered_domain requires STRING, got ${child.dataType.sql}")
  override def prettyName: String = "registered_domain"

  override protected def nullSafeEval(input: Any): Any =
    RegisteredDomainExpr.parse(input.asInstanceOf[UTF8String])

  // NB: must call through the module instance (`...Expr$.MODULE$`), and the
  // helper must NOT be named `eval`: Scala emits no static forwarder for a
  // companion method whose name clashes with an instance method
  // (UnaryExpression.eval), so `RegisteredDomainExpr.eval(...)` does not
  // exist as Java statics — Janino then fails and every task silently
  // drops the whole stage to interpreted execution.
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.RegisteredDomainExpr$$.MODULE$$.parse($c)")

  override protected def withNewChildInternal(
      newChild: Expression): RegisteredDomainExpr = copy(child = newChild)
}

object RegisteredDomainExpr {
  /** Entry point shared by interpreted eval and generated code (which
    * calls it via `MODULE$` — see doGenCode note); operates on UTF8String
    * to avoid copies where the input is ASCII.
    */
  def parse(s: UTF8String): UTF8String =
    UTF8String.fromString(DomainParse.registeredDomain(s.toString))

  /** Register `registered_domain(col)` on an existing session so SQL and
    * expr() reach the native expression (the SparkSessionExtensions route
    * below covers sessions built with `.withExtensions`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "registered_domain",
      (children: Seq[Expression]) => RegisteredDomainExpr(children.head),
      "scala_udf")
}

/** SparkSessionExtensions entry point:
  * `.withExtensions(new GraftExtensions)` on a session builder or
  * `spark.sql.extensions=graft.ops.GraftExtensions` injects the native
  * function AND the band-join optimizer rewrite into every session
  * (SURVEY.md §2.11 extension surface + §4.2 custom-Rule tier).
  */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("registered_domain"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[RegisteredDomainExpr].getName, "registered_domain"),
      (children: Seq[Expression]) => RegisteredDomainExpr(children.head)))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("rolling_hash"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[RollingHashExpr].getName, "rolling_hash"),
      (children: Seq[Expression]) => RollingHashExpr(children.head)))
    // |a−b| ≤ H theta joins replan as binned equi-joins (never BNLJ);
    // see graft.plans.BandJoinRewrite
    ext.injectOptimizerRule(graft.plans.BandJoinRewrite(_))
  }
}
