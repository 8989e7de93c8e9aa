package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch over a token stream — the mergeable-sketch answer to
  * "approximate per-token frequencies over a corpus too large to hold the
  * exact (token → count) map per executor".
  *
  * Reference behavior: frequency/heavy-hitter style rollups the reference
  * delegates to its warehouse (e.g. volume-by-term aggregations,
  * `rankings_generator.py` term rollups) — here re-expressed as a sketch so
  * the aggregation state is O(depth·width) REGARDLESS of vocabulary size.
  *
  * Scale design (north star = 100 TB):
  *  - The buffer is a flat `Array[Long]` of depth·width counters. `reduce`
  *    is 4 hash-and-increments per token; `merge` is elementwise add —
  *    associative and commutative, so Spark runs it partial+final with
  *    map-side combine like any built-in agg. Executors never exchange
  *    token strings, only fixed-size counter arrays (64 KiB here).
  *  - Estimation (`estimate`) is read-only min-over-rows; the sketch is an
  *    aggregate RESULT (one row), so probing candidates against it is
  *    driver/broadcast-sized work, never a corpus-wide shuffle.
  *  - Guarantees: est ≥ true always (counters only over-count); est ≤
  *    true + ε·N with prob 1−δ for ε = e/width, δ = e^−depth. Width 2048 ⇒
  *    ε ≈ 0.13%; CmsSpec property-tests both bounds plus partition
  *    invariance of the merged sketch.
  *
  * A typed `Aggregator` (SURVEY.md §2.11): typed input, associative
  * merge, partial-agg friendly.
  */
object CountMin {
  val Depth = 4
  val Width = 2048
  private val P = Scalars.HashP // 1000000007, the repo's universal-hash prime

  /** Fixed per-row affine constants over the md5 tokenHash — the same
    * cross-engine universal-hash family as minhash (QueriesText.minhashSigs),
    * chosen over Murmur3 in r13 SPECIFICALLY so DuckDB can replay every
    * bucket: row r sends token t to
    * `((a_r · (tokenHash(t) mod P) + b_r) mod P) mod Width`,
    * which SQL writes as
    * `((a * (('0x'||substr(md5(t),1,15))::BIGINT % P) + b) % P) % 2048`.
    * That flips q106 from bounds-gated to a full rows+schema+hash oracle
    * (VERDICT r12 #6): the sketch counters are exact sums over an exactly
    * replayable bucket map, so the estimate is bit-deterministic across
    * runs, partitionings, AND engines. Overflow-safe: a ≤ 8191 and
    * (h mod P) < 2^30, so a·h+b < 2^44.
    */
  private val AB: Array[(Long, Long)] =
    Array((31L, 7L), (131L, 17L), (1031L, 97L), (8191L, 401L))
  require(AB.length == Depth,
    s"CountMin needs one (a,b) pair per row: ${AB.length} for depth $Depth")

  /** Base md5 hash, computed ONCE per token — the Depth buckets are
    * affine variants of this one value, so the md5 (the expensive part;
    * r13 perf note) is never repeated per row.
    */
  def baseHash(tok: String): Long =
    TokenHashExpr.hash(UTF8String.fromString(tok)) % P

  def bucketOf(h: Long, row: Int): Int = {
    val (a, b) = AB(row)
    (((a * h + b) % P) % Width).toInt
  }

  def bucket(tok: String, row: Int): Int = bucketOf(baseHash(tok), row)

  /** Point estimate: min over the Depth counters this token hashes to. */
  def estimate(sketch: Array[Long], tok: String): Long = {
    var m = Long.MaxValue
    var r = 0
    while (r < Depth) {
      val c = sketch(r * Width + bucket(tok, r))
      if (c < m) m = c
      r += 1
    }
    m
  }
}

/** Typed Count-Min aggregator: fold tokens into a Depth×Width counter
  * array with an elementwise-add merge (partial+final, map-side combine).
  */
class CountMinAggregator
    extends Aggregator[String, Array[Long], Array[Long]] {
  import CountMin._

  override def toString: String = s"CountMinAggregator($Depth, $Width)"

  override def zero: Array[Long] = new Array[Long](Depth * Width)

  override def reduce(buf: Array[Long], tok: String): Array[Long] = {
    val h = baseHash(tok) // one md5; the Depth rows are affine variants
    var r = 0
    while (r < Depth) {
      buf(r * Width + bucketOf(h, r)) += 1L
      r += 1
    }
    buf
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < x.length) { x(i) += y(i); i += 1 }
    x
  }

  override def finish(buf: Array[Long]): Array[Long] = buf

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}
