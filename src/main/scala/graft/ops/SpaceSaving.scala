package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** SpaceSaving heavy-hitter summary (Metwally et al. 2005) — ClickHouse
  * `topK`/`topKWeighted` parity (first-class aggregates in 23.4): maintain
  * the top-k SET in BOUNDED state. The CMS (q106) answers point-frequency
  * probes but cannot enumerate the heavy hitters without an exact
  * vocabulary pass; SpaceSaving maintains capacity-M `(token, count,
  * error)` counters where an unseen token evicts the minimum counter and
  * inherits its count as error. Invariants (the bounds verify_local
  * gates):
  *
  *   I1  per entry: true ≤ count, and count − error ≤ true
  *   I2  any token NOT in a full summary has true ≤ min entry count
  *
  * so a reported item is GUARANTEED top-k when count − error strictly
  * exceeds the (k+1)-th count: its true count then strictly dominates
  * every unreported token's possible count (I2 + the (k+1)-th bound).
  *
  * Merge (Agarwal et al. 2013 "Mergeable Summaries"): for each token in
  * either summary take its (count, error) where present and (min, min) of
  * the OTHER side's counters where absent — a token missing from a full
  * summary may have occurred up to min times in that substream (I2), and
  * exactly 0 times in a never-full one (nothing was ever evicted) — then
  * keep the top M by count. Both invariants are preserved inductively, so
  * Spark may merge partials in ANY tree order: the SUMMARY contents can
  * vary with partitioning (the estimates are stream-order-dependent — why
  * this op is bounds-gated, not hash-oracled), but the bounds and the
  * guaranteed-membership claims hold under every partitioning
  * (`SpaceSavingSpec` pins both, plus exactness when the vocabulary fits
  * the capacity: no eviction ever fires and every count is exact with
  * error 0 under any split).
  *
  * Scale design (north star = 100 TB): aggregation state is O(M)
  * REGARDLESS of vocabulary — executors fold their token stream locally
  * (HashMap hit per token; the O(M) eviction scan only runs on a miss
  * with a full summary) and exchange only M-entry summaries, exactly the
  * [[CountMinAggregator]] partial+final contract. Eviction and output
  * ties break on the (count, token) total order, so a given fold order is
  * deterministic.
  */
object SpaceSaving {

  /** One summary entry: token, over-counting estimate, error bound. */
  final case class Entry(tok: String, c: Long, e: Long)

  /** Mutable summary buffer (kryo-encoded between partial and final). */
  final class Summary(val cap: Int) extends Serializable {
    val m: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty
    // true iff an eviction ever fired OR a full summary was merged in:
    // while false, absent tokens are guaranteed count 0 (I2's other arm)
    var evicted: Boolean = false

    def minCount: Long = if (m.isEmpty) 0L else m.valuesIterator.map(_._1).min

    /** The floor on any ABSENT token's true count (I2). */
    def absentFloor: Long = if (!evicted) 0L else minCount

    def add(tok: String): Unit = add(tok, 1L)

    /** Weighted fold (ClickHouse `topKWeighted`): the counter accumulates
      * WEIGHT mass instead of occurrences — I1/I2 hold verbatim with
      * "true count" read as "true total weight" (an absent token's mass
      * is still bounded by the min counter: it would have had to climb
      * past it to stay resident).
      */
    def add(tok: String, w: Long): Unit = {
      require(w >= 0L, s"SpaceSaving weight must be non-negative, got $w")
      m.get(tok) match {
        case Some((c, e)) => m.update(tok, (c + w, e))
        case None if m.size < cap => m.update(tok, (w, 0L))
        case None =>
          // evict the (count, token)-minimal entry; the newcomer inherits
          // its count as error — true ≤ minC + w = count, count − error =
          // w ≤ true. Deterministic: the tie order is total.
          val (vt, (vc, _)) = m.minBy { case (t, (c, _)) => (c, t) }
          m.remove(vt)
          m.update(tok, (vc + w, vc))
          evicted = true
      }
    }

    /** Fold `other` into this (mergeable-summaries addition + top-M cut). */
    def mergeIn(other: Summary): Unit = {
      val fa = absentFloor
      val fb = other.absentFloor
      val toks = m.keySet ++ other.m.keySet
      val merged = toks.iterator.map { t =>
        val (ca, ea) = m.getOrElse(t, (fa, fa))
        val (cb, eb) = other.m.getOrElse(t, (fb, fb))
        t -> (ca + cb, ea + eb)
      }.toSeq
      val kept =
        if (merged.size <= cap) merged
        else merged.sortBy { case (t, (c, _)) => (-c, t) }.take(cap)
      m.clear()
      kept.foreach { case (t, ce) => m.update(t, ce) }
      // merging a full side means absent tokens may have occurred up to
      // its min there; the truncation itself also implies evictions
      evicted = evicted || other.evicted || merged.size > cap
    }

    /** Entries in the deterministic (count DESC, token ASC) report order. */
    def entries: Seq[Entry] =
      m.toSeq.sortBy { case (t, (c, _)) => (-c, t) }
        .map { case (t, (c, e)) => Entry(t, c, e) }
  }
}

/** Typed SpaceSaving aggregator: capacity-M bounded state, associative
  * bounded-error merge (partial+final, map-side combine).
  */
class SpaceSavingAggregator(capacity: Int)
    extends Aggregator[String, SpaceSaving.Summary,
      Seq[SpaceSaving.Entry]] {

  override def toString: String = s"SpaceSavingAggregator($capacity)"

  override def zero: SpaceSaving.Summary = new SpaceSaving.Summary(capacity)

  override def reduce(buf: SpaceSaving.Summary,
      tok: String): SpaceSaving.Summary = { buf.add(tok); buf }

  override def merge(a: SpaceSaving.Summary,
      b: SpaceSaving.Summary): SpaceSaving.Summary = { a.mergeIn(b); a }

  override def finish(buf: SpaceSaving.Summary): Seq[SpaceSaving.Entry] =
    buf.entries

  override def bufferEncoder: Encoder[SpaceSaving.Summary] =
    Encoders.kryo[SpaceSaving.Summary]
  override def outputEncoder: Encoder[Seq[SpaceSaving.Entry]] =
    ExpressionEncoder[Seq[SpaceSaving.Entry]]()
}

/** Weighted variant — ClickHouse `topKWeighted` parity: input rows are
  * (key, weight) and counters accumulate weight mass. Same bounded state,
  * same mergeable-summaries merge, same bounds with "count" read as
  * "total weight".
  */
class WeightedSpaceSavingAggregator(capacity: Int)
    extends Aggregator[(String, Long), SpaceSaving.Summary,
      Seq[SpaceSaving.Entry]] {

  override def toString: String = s"WeightedSpaceSavingAggregator($capacity)"

  override def zero: SpaceSaving.Summary = new SpaceSaving.Summary(capacity)

  override def reduce(buf: SpaceSaving.Summary,
      row: (String, Long)): SpaceSaving.Summary = {
    buf.add(row._1, row._2); buf
  }

  override def merge(a: SpaceSaving.Summary,
      b: SpaceSaving.Summary): SpaceSaving.Summary = { a.mergeIn(b); a }

  override def finish(buf: SpaceSaving.Summary): Seq[SpaceSaving.Entry] =
    buf.entries

  override def bufferEncoder: Encoder[SpaceSaving.Summary] =
    Encoders.kryo[SpaceSaving.Summary]
  override def outputEncoder: Encoder[Seq[SpaceSaving.Entry]] =
    ExpressionEncoder[Seq[SpaceSaving.Entry]]()
}
