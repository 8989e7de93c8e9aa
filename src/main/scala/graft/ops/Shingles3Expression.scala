package graft.ops

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the distinct 3-word shingle set —
  * `text → split(" ") → sliding 3-window joins → first-occurrence
  * distinct` fused into ONE codegen'd call, replacing the last
  * interpreted-HOF mega-lambda on a hot path (`Scalars.shingles3`'s
  * array `transform`, which is CodegenFallback: every row paid
  * interpreted lambda dispatch per window plus a words-array and a
  * shingles-array materialization, and the first run additionally paid
  * the interpreted-eval JIT warmup that made q185's isolated fresh-JVM
  * cold run the registry's worst at 12.2 s — SCALE.md "First-run (cold)
  * costs", VERDICT r12 #1).
  *
  * The trick that makes this allocation-free: the shingle JOIN separator
  * (" ") equals the SPLIT separator, so every 3-shingle is a contiguous
  * byte SUBSTRING of the input — `bytes[start(j) .. end(j+2))` — and the
  * expression emits zero-copy UTF8String slices over one byte walk. No
  * words array, no per-window string building, no lambda frames.
  * Splitting on the single byte 0x20 is UTF-8-safe (continuation bytes
  * all have the high bit set).
  *
  * Value contract (unchanged, pinned by Shingles3ExprSpec incl.
  * codegen-off): identical to
  * `when(size(ws) >= 3, array_distinct(transform(sequence(1, size(ws)-2),
  *   i => concat_ws(" ", ws[i], ws[i+1], ws[i+2]))))
  *  .otherwise(array(concat_ws(" ", ws)))` for `ws = split(text, " ")` —
  * split keeps empty segments (limit −1), distinct keeps first-occurrence
  * order, <3 words yields the whole text as one shingle, and (degenerate
  * but pinned) a NULL input yields `[""]`, exactly what the declarative
  * form produced via `concat_ws` over a null array. DuckDB replays the
  * same set via `QueriesText.shinglesSql` — every existing oracle keeps
  * matching bit-for-bit. Works on any StringType incl. non-default
  * collations (byte-based, never compares strings).
  */
case class Shingles3Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // never NULL — a NULL input maps to [""], matching the declarative form
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingles3 requires STRING, got ${other.sql}")
    }
  override def prettyName: String = "shingles3"

  // null-TOLERANT, so not nullSafeEval: null in → [""] out (see contract)
  override def eval(input: InternalRow): Any =
    Shingles3Expr.shingle(child.eval(input).asInstanceOf[UTF8String])

  // Call through MODULE$, helper not named `eval` — the
  // RegisteredDomainExpr static-forwarder lesson (a name clash with
  // UnaryExpression.eval silently drops the stage to interpreted).
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.ops.Shingles3Expr$$.MODULE$$.shingle(
            ${c.isNull} ? null : ${c.value});
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): Shingles3Expr = copy(child = newChild)
}

object Shingles3Expr {

  /** Shared by interpreted eval and generated code (via MODULE$). */
  def shingle(text: UTF8String): ArrayData = {
    if (text == null) {
      return new GenericArrayData(
        Array[Any](UTF8String.EMPTY_UTF8))
    }
    val bytes = text.getBytes
    val n = bytes.length
    var spaces = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == ' ') spaces += 1
      i += 1
    }
    val words = spaces + 1
    // <3 words: the whole text IS concat_ws(" ", split(text, " "))
    if (words < 3) return new GenericArrayData(Array[Any](text))
    // word k spans [starts(k), ends(k)); separators are single 0x20 by
    // construction, so shingle j is the slice [starts(j), ends(j+2))
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var w = 0
    starts(0) = 0
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = n
    // LinkedHashSet = array_distinct's first-occurrence order
    val seen = new java.util.LinkedHashSet[UTF8String](words * 2)
    var j = 0
    while (j <= words - 3) {
      seen.add(UTF8String.fromBytes(bytes, starts(j), ends(j + 2) - starts(j)))
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
