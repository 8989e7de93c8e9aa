package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bottom-k-by-hash VALUE sample — the quantile member of the sketch tier
  * (HLL q108 = union cardinality, KMV q122 = intersection cardinality,
  * CMS q106 = frequency; this sketch = rank/quantile), built as a uniform
  * row sample whose MEMBERSHIP IS A PURE FUNCTION OF THE DATA: keep the
  * (hash, value) pairs whose row-key hashes are the K smallest in the
  * group.
  *
  * Why not KLL or t-digest (the textbook mergeable quantile sketches):
  * both are merge-ORDER-dependent — the same multiset folded through a
  * different partitioning yields a different sketch, which on a cluster
  * means a nondeterministic answer per run and no cross-engine oracle.
  * The bottom-k sample trades a constant factor of accuracy (rank error
  * ~1/√K per DKW, vs KLL's ~1/K for equal state) for full order
  * independence: reduce and merge are associative+commutative set
  * operations, so Spark's partial+final aggregation, any partition count,
  * and a DuckDB `row_number() OVER (ORDER BY hash) <= K` replay all
  * produce the IDENTICAL sketch — quantile estimates are then exact order
  * statistics of the sampled values, value-comparable cross-engine with
  * no floating-point estimator at all.
  *
  * Scale design (north star = 100 TB):
  *  - State is ≤K (hash, value) pairs per group per partial (~4 KiB at
  *    K=256): executors exchange fixed-size arrays, never row sets; after
  *    warmup only hashes below the current max insert (expected
  *    K·ln(n/K) total), each a binary search.
  *  - The hash family is `Scalars.tokenHash` over the UNIQUE row key
  *    (md5 → 15 hex digits → long): deterministic cross-engine, so the
  *    declared query (q126) gets a FULL value oracle, not a bounds check.
  *  - Hash collisions (≈ n²/2⁶¹): both colliding rows map to one slot;
  *    the smaller VALUE wins — min is associative/commutative, so
  *    determinism survives even collision, and the oracle replays the
  *    same rule (`min(value) GROUP BY hash`).
  */
object QuantileSample {
  /** Default sample size: rank error ~1.36/√K ≈ 8.5% worst-case by DKW at
    * 95% confidence; `QuantileSampleSpec` gates the observed error far
    * tighter on 20×K data.
    */
  val K = 256
}

/** Buffer: parallel arrays sorted by hash (the KMV layout, plus a value
  * payload per kept hash).
  */
case class QsBuf(h: Array[Long], v: Array[Double])

class QuantileSampleAggregator(k: Int = QuantileSample.K)
    extends Aggregator[(Long, Double), QsBuf, QsBuf] {
  require(k > 1, s"quantile sample needs k > 1; got $k")

  override def toString: String = s"QuantileSampleAggregator($k)"

  override def zero: QsBuf =
    QsBuf(Array.emptyLongArray, Array.emptyDoubleArray)

  private def inserted(b: QsBuf, ins: Int, hh: Long, vv: Double,
      keep: Int): QsBuf = {
    val n = math.min(b.h.length + 1, keep)
    val oh = new Array[Long](n); val ov = new Array[Double](n)
    System.arraycopy(b.h, 0, oh, 0, ins)
    System.arraycopy(b.v, 0, ov, 0, ins)
    oh(ins) = hh; ov(ins) = vv
    System.arraycopy(b.h, ins, oh, ins + 1, n - ins - 1)
    System.arraycopy(b.v, ins, ov, ins + 1, n - ins - 1)
    QsBuf(oh, ov)
  }

  override def reduce(b: QsBuf, in: (Long, Double)): QsBuf = {
    val (hh, vv) = in
    val idx = java.util.Arrays.binarySearch(b.h, hh)
    if (idx >= 0) { // hash collision: deterministic min-value rule
      if (vv < b.v(idx)) {
        val nv = b.v.clone(); nv(idx) = vv; QsBuf(b.h, nv)
      } else b
    } else {
      val ins = -idx - 1
      if (b.h.length < k || ins < k) inserted(b, ins, hh, vv, k) else b
    }
  }

  override def merge(x: QsBuf, y: QsBuf): QsBuf = {
    val n = math.min(x.h.length + y.h.length, k)
    val oh = new Array[Long](n); val ov = new Array[Double](n)
    var i = 0; var j = 0; var m = 0
    while (m < n && (i < x.h.length || j < y.h.length)) {
      if (j >= y.h.length ||
          (i < x.h.length && x.h(i) <= y.h(j))) {
        oh(m) = x.h(i); ov(m) = x.v(i)
        if (j < y.h.length && y.h(j) == x.h(i)) { // equal heads: min value
          if (y.v(j) < ov(m)) ov(m) = y.v(j)
          j += 1
        }
        i += 1
      } else { oh(m) = y.h(j); ov(m) = y.v(j); j += 1 }
      m += 1
    }
    if (m == n) QsBuf(oh, ov)
    else QsBuf(java.util.Arrays.copyOf(oh, m),
      java.util.Arrays.copyOf(ov, m))
  }

  override def finish(b: QsBuf): QsBuf = b

  override def bufferEncoder: Encoder[QsBuf] = ExpressionEncoder[QsBuf]()
  override def outputEncoder: Encoder[QsBuf] = ExpressionEncoder[QsBuf]()
}
