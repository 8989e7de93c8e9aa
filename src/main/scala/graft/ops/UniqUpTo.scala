package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** uniqUpTo(N) — ClickHouse parity: the EXACT distinct count while it is
  * ≤ N, saturating at N+1 once more than N distinct values are seen. The
  * member of the cardinality family the sketch tier does not cover: KMV
  * (X34) and HLL (X24) ESTIMATE unbounded cardinalities with bounded
  * state; uniqUpTo answers the small-cardinality question exactly —
  * "does this group have more than N distinct users, and if not, how
  * many?" — with state bounded by N, not by the data. ClickHouse ships
  * it for exactly this (menu/facet counts, "10+" UI buckets).
  *
  * Scale design (north star = 100 TB):
  *  - State is a sorted array of ≤ N+1 distinct longs per group per
  *    partial — constant-size, map-side combinable; executors exchange
  *    at most (N+1)·8 bytes per group, never member sets. Saturation is
  *    represented by length == N+1 itself: a saturated buffer stops
  *    absorbing inserts entirely (per-row cost collapses to one length
  *    check + binary search at most), and merge of a saturated side is
  *    O(1).
  *  - reduce/merge are associative and commutative (sorted-merge +
  *    dedup + cap): partial aggregation order cannot change the result,
  *    so the count is deterministic — unlike a sketch, a pass is exact,
  *    not probabilistic (UniqUpToSpec pins partition invariance and
  *    both regimes; the declared q224 has a FULL DuckDB oracle:
  *    `least(count(DISTINCT x), N+1)` is the same function).
  */
class UniqUpToAggregator(n: Int)
    extends Aggregator[Long, Array[Long], Long] {
  require(n >= 1, s"uniqUpTo needs N >= 1; got $n")
  private val cap = n + 1

  override def toString: String = s"UniqUpToAggregator($n)"

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(buf: Array[Long], v: Long): Array[Long] = {
    if (buf.length >= cap) buf // saturated: nothing can change the answer
    else {
      val idx = java.util.Arrays.binarySearch(buf, v)
      if (idx >= 0) buf // already counted
      else {
        val ins = -idx - 1
        val out = new Array[Long](buf.length + 1)
        System.arraycopy(buf, 0, out, 0, ins)
        out(ins) = v
        System.arraycopy(buf, ins, out, ins + 1, buf.length - ins)
        out
      }
    }
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    if (x.length >= cap) x
    else if (y.length >= cap) y
    else {
      // sorted-merge + dedup, stop once the cap certifies "> N"
      val out = new Array[Long](math.min(x.length + y.length, cap))
      var i = 0; var j = 0; var o = 0
      while (o < cap && (i < x.length || j < y.length)) {
        val v =
          if (j >= y.length || (i < x.length && x(i) <= y(j))) {
            val t = x(i); i += 1
            if (j < y.length && y(j) == t) j += 1 // dedup cross-side tie
            t
          } else { val t = y(j); j += 1; t }
        out(o) = v; o += 1
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }
  }

  override def finish(buf: Array[Long]): Long = buf.length.toLong

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Long] = ExpressionEncoder[Long]()
}
