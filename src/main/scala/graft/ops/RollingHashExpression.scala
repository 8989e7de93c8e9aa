package graft.ops

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the q70 order-sensitive rolling-hash
  * document fingerprint — the X8b hot path fused into ONE codegen'd call:
  *
  *   text → split(" ") → per-token md5 → first-15-hex-digits as a 60-bit
  *   long → mod P → left fold h = (31·h + x) mod P
  *
  * Bit-identical to the declarative form it replaces
  * (`aggregate(transform(split(text, " "), w => tokenHash(w) % P), 0L,
  * (h, x) => (31h + x) % P)`) — pinned by `RollingHashExprSpec` on real
  * data plus the empty/trailing/multi-space edges — and to the DuckDB
  * `list_reduce` oracle both forms share. Why a native expression (the
  * builder-prompt preference order made concrete): the declarative form
  * pays three array materializations per row (split, transform, the fold's
  * lambda frames) plus interpreted HigherOrderFunction dispatch per token
  * plus a hex-string round-trip per token (md5 → hex UTF8String → conv
  * base-16 parse); this walks the text bytes once, digests token bytes
  * directly (no hex detour — the top 60 bits of the raw digest ARE the
  * first 15 hex digits), and folds in a register. Same md5 count, zero
  * intermediate allocation.
  *
  * Split semantics replicate Spark's `split(text, " ")` (limit −1) exactly:
  * n spaces delimit n+1 segments, INCLUDING leading/trailing/adjacent
  * empties, whose md5("") hashes participate like any token's.
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires STRING, got ${child.dataType.sql}")
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(input: Any): Any =
    RollingHashExpr.hash(input.asInstanceOf[UTF8String])

  // Call through MODULE$, helper not named `eval` — the
  // RegisteredDomainExpr static-forwarder lesson (a name clash with
  // UnaryExpression.eval silently drops the stage to interpreted).
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.ops.RollingHashExpr$$.MODULE$$.hash($c)")

  override protected def withNewChildInternal(
      newChild: Expression): RollingHashExpr = copy(child = newChild)
}

object RollingHashExpr {
  private val P = Scalars.HashP

  // one digest per task thread; digest() resets it after each token
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Shared by interpreted eval and generated code (via MODULE$). */
  def hash(text: UTF8String): Long = {
    val bytes = text.getBytes
    val digest = md.get()
    var h = 0L
    var start = 0
    var i = 0
    val n = bytes.length
    while (i <= n) {
      if (i == n || bytes(i) == ' ') {
        digest.update(bytes, start, i - start)
        val d = digest.digest() // resets for the next token
        // first 15 hex digits of the md5 = top 60 bits of the digest
        var v = 0L
        var j = 0
        while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
        v = (v << 4) | ((d(7) & 0xffL) >>> 4)
        h = (h * 31L + v % P) % P
        start = i + 1
      }
      i += 1
    }
    h
  }
}
