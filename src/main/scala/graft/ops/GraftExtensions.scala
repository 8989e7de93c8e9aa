package graft.ops

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The SQL-text route to graft's native Catalyst expressions, and the only
  * place they are registered as functions:
  * `.withExtensions(new GraftExtensions)` on a session builder, or
  * `spark.sql.extensions=graft.ops.GraftExtensions`, injects every
  * function of [[GraftExtensions.functions]] and the band-join optimizer
  * rewrite ([[graft.plans.BandJoinRewrite]]) into the sessions it builds
  * (SURVEY.md §2.11 extension surface + §4.2 custom-Rule tier).
  *
  * Queries never go through here: they reach the same expressions through
  * the [[Scalars]] Column helpers, which need no session and leave the
  * caller's function catalog as it was.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        GraftExtensions.unary(name, build)))
    }
    // |a−b| ≤ H theta joins replan as binned equi-joins (never BNLJ)
    ext.injectOptimizerRule(graft.plans.BandJoinRewrite(_))
  }
}

object GraftExtensions {

  /** SQL name, expression class and builder of each native function. All
    * four take exactly one STRING argument.
    */
  val functions: Seq[(String, Class[_ <: Expression], Expression => Expression)] =
    Seq(
      ("registered_domain", classOf[RegisteredDomainExpr], RegisteredDomainExpr(_)),
      ("rolling_hash", classOf[RollingHashExpr], RollingHashExpr(_)),
      ("token_hash", classOf[TokenHashExpr], TokenHashExpr(_)),
      ("shingles3", classOf[Shingles3Expr], Shingles3Expr(_)))

  /** `build` behind one arity check: any count but one fails analysis with
    * Spark's own WRONG_NUM_ARGS error naming the function, instead of a
    * bare NoSuchElementException (zero arguments) or a silently dropped
    * second argument.
    */
  private def unary(name: String, build: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(child) => build(child)
    case args => throw new AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> "1",
        "actualNum" -> args.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
  }
}
