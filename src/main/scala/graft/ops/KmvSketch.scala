package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** KMV (k-minimum-values) distinct-count sketch — the mergeable sketch
  * that, unlike HLL (q108's tier), supports set INTERSECTION estimates:
  * keep the K smallest distinct hash values of a set; two sketches
  * union by merge-and-trim, and the fraction of the trimmed union that
  * belongs to both inputs estimates the Jaccard/overlap (Beyer et al.,
  * "On Synopses for Distinct-Value Estimation Under Multiset Operations",
  * SIGMOD 2007).
  *
  * Reference behavior: audience/overlap rollups the reference delegates to
  * its warehouse's uniq* family (`rankings_generator.py` volume rollups);
  * HLL covers per-grain uniques (X24) but cannot answer "how many users
  * did BOTH X and Y" without a re-scan — KMV can, from the same one-pass
  * per-grain sketch table.
  *
  * Scale design (north star = 100 TB):
  *  - State is ≤K sorted longs per group per partial — executors exchange
  *    4 KiB arrays (K=512), never member sets. After warmup only hashes
  *    below the current max insert (expected K·ln(n/K) inserts total), so
  *    the per-row cost is one binary search; array copies happen only on
  *    actual insert.
  *  - `merge` is a sorted-merge + dedup + trim — associative and
  *    commutative, so Spark runs partial+final with map-side combine.
  *  - The hash family is `Scalars.tokenHash` (md5 → first 15 hex digits →
  *    long, uniform on [0, 16^15)): DETERMINISTIC CROSS-ENGINE, so unlike
  *    Murmur-hashed sketches (q106) the sketch CONTENT is DuckDB-replayable
  *    and the declared query gets a full hash oracle, not a bounds check.
  *  - Estimator: a sketch holding n<K values is exact (it IS the distinct
  *    hash set). Saturated, distinct ≈ (K−1)·M/h_K for h_K the K-th
  *    smallest hash and M the hash domain size; the intersection estimate
  *    scales that by the matched fraction ρ of the trimmed union. Error is
  *    ~1/√K (≈4.4% at K=512) — `KmvSpec` gates it empirically.
  */
object KmvSketch {
  val K = 512

  /** Hash domain size: tokenHash is 15 hex digits = [0, 16^15) = [0, 2^60).
    * Exactly representable as a Double (mantissa needs 1 bit), so the
    * estimator arithmetic is reproducible anywhere IEEE-754 holds.
    */
  val M: Double = 1152921504606846976.0 // 2^60
}

/** Typed KMV aggregator over pre-hashed long values: fold hashes into the
  * sorted array of the K smallest distinct values (partial+final,
  * map-side combine). Input is a COLUMN hash (`Scalars.tokenHash`, codegen'd
  * in the plan) rather than a string hashed here, which is what keeps the
  * sketch content engine-neutral.
  */
class KmvAggregator(k: Int = KmvSketch.K)
    extends Aggregator[Long, Array[Long], Array[Long]] {
  require(k > 1, s"KMV needs k > 1 (k-th order statistic drives the " +
    s"estimator); got $k")

  override def toString: String = s"KmvAggregator($k)"

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(buf: Array[Long], h: Long): Array[Long] = {
    val idx = java.util.Arrays.binarySearch(buf, h)
    if (idx >= 0) buf // already present
    else {
      val ins = -idx - 1
      if (buf.length < k) {
        val out = new Array[Long](buf.length + 1)
        System.arraycopy(buf, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(buf, ins, out, ins + 1, buf.length - ins)
        out
      } else if (ins < k) { // smaller than the current max: shift it out
        val out = new Array[Long](k)
        System.arraycopy(buf, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(buf, ins, out, ins + 1, k - ins - 1)
        out
      } else buf
    }
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    // sorted-merge + dedup, stop at k survivors
    val out = new Array[Long](math.min(x.length + y.length, k))
    var i = 0; var j = 0; var n = 0
    while (n < out.length && (i < x.length || j < y.length)) {
      val v =
        if (j >= y.length || (i < x.length && x(i) <= y(j))) {
          val t = x(i); i += 1
          if (j < y.length && y(j) == t) j += 1 // dedup equal heads
          t
        } else { val t = y(j); j += 1; t }
      out(n) = v; n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}
