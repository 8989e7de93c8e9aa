package graft.ops

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for PSL-aware registered-domain extraction
  * over [[DomainParse.registeredDomain]] (SURVEY.md §4.2: "Expression w/
  * codegen if it shows up hot"). Queries reach it as
  * `Scalars.registeredDomainPsl`, SQL text as `registered_domain(fqdn)`
  * through [[GraftExtensions]].
  *
  * Unlike a Scala UDF this participates in whole-stage codegen: no
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
}
