package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the cross-engine 60-bit token hash —
  * the single hottest scalar in the repo: `Scalars.tokenHash` runs once
  * per TOKEN in every token-explode query (q87 decontaminate, q103
  * tf-idf, q130 substring dedup, q191 cdc chunks, q195 boilerplate
  * strip — the 0.25–0.52-slope linear class) and once per shingle in
  * the whole minhash family.
  *
  * Value contract (unchanged): first 15 hex digits of md5(t) parsed
  * base-16 — i.e. the TOP 60 BITS of the raw digest — as a non-negative
  * long. DuckDB replays it as `('0x' || substr(md5(t), 1, 15))::BIGINT`,
  * so every existing oracle keeps matching bit-for-bit.
  *
  * Why a native expression (the q70b RollingHashExpr dividend, measured
  * 4.2× at sf1, generalized): the declarative form
  * `conv(substring(md5(t), 1, 15), 16, 10).cast("long")` pays, per call,
  * a 32-char hex UTF8String materialization (md5), a substring copy, and
  * conv's general-radix parse loop — three allocations to round-trip 60
  * bits that the digest already holds. This digests the UTF-8 bytes
  * directly and assembles the long from the first 7½ digest bytes. Same
  * md5 count, zero intermediate allocation, and — unlike conv, which is
  * a non-trivial generated call tree — a single static call that keeps
  * whole-stage codegen bodies small. `TokenHashExprSpec` pins
  * bit-identity against the conv form on real corpus data plus
  * empty/unicode/null edges, with the interpreted path covered via
  * codegen-off.
  */
case class TokenHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  // Any StringType is accepted, INCLUDING non-default collations: the
  // hash digests UTF-8 bytes and never compares strings, so collation
  // cannot affect the value (matches what the conv-form declarative
  // path would accept; r12 advice).
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"token_hash requires STRING, got ${other.sql}")
    }
  override def prettyName: String = "token_hash"

  override protected def nullSafeEval(input: Any): Any =
    TokenHashExpr.hash(input.asInstanceOf[UTF8String])

  // Call through MODULE$, helper not named `eval` — the
  // RegisteredDomainExpr static-forwarder lesson (a name clash with
  // UnaryExpression.eval silently drops the stage to interpreted).
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.TokenHashExpr$$.MODULE$$.hash($c)")

  override protected def withNewChildInternal(
      newChild: Expression): TokenHashExpr = copy(child = newChild)
}

object TokenHashExpr {

  // one digest per task thread; digest() resets it after each call
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Shared by interpreted eval and generated code (via MODULE$).
    * Top 60 bits of md5 = first 15 hex digits: 7 full bytes then the
    * high nibble of byte 7 — always non-negative (fits in 60 bits).
    */
  def hash(t: UTF8String): Long = {
    val digest = md.get()
    digest.update(t.getBytes)
    val d = digest.digest() // resets for the next call
    var v = 0L
    var j = 0
    while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }
}
