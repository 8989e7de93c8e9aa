package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for ANN over embedding columns — the
  * memory-bound scale tier above IVF (SURVEY.md §2.11 X5–X7 ladder:
  * brute-force → LSH buckets → IVF cells → IVF-PQ codes).
  *
  * A 64-dim float vector costs 256 bytes; its PQ code costs M bytes
  * (M subspaces × one byte each). At 10^11 vectors the raw corpus is
  * ~25 TB while PQ codes fit in ~800 GB of executor memory — search
  * becomes a scan over codes with per-query lookup tables, no vector
  * I/O. This is the standard billion-scale recipe (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011; same layout
  * FAISS IVF-PQ uses).
  *
  * Scale design (north star = 100 TB):
  *  - FIT is M independent small k-means runs over SUBVECTORS of a
  *    bounded, content-derived sample (smallest xxhash64(id, seed) ids —
  *    deterministic under retries/partitioning, no RNG).
  *    Codebooks are M×K×subDim doubles — KB-sized, broadcast-able.
  *  - ENCODE is one mapPartitions pass with the codebook in closure:
  *    per row, per subspace, argmin over K centroids (first-strictly-
  *    smaller tie-break → bit-stable codes for any partitioning). The
  *    corpus is touched once and never shuffled.
  *  - SEARCH (ADC — asymmetric distance computation) precomputes, per
  *    query, an M×K table of squared distances from the query's
  *    subvectors to every codebook entry; a code's approximate distance
  *    is M table lookups + adds. One pass over codes emits per-PARTITION
  *    top-k candidates only (partitions × queries × k rows), and the
  *    exact global top-k is a tiny final sort — the distributed top-k
  *    shape, never a corpus-sized window.
  *  - Identity that makes ADC testable: ADC(q, code) equals EXACTLY
  *    ||q − decode(code)||² (decode = concat of chosen centroids), since
  *    squared L2 sums over disjoint subspaces. PqSpec asserts it to 1e-9.
  */
object ProductQuantizer {

  /** codebooks(m)(k) = centroid k of subspace m (subDim doubles each). */
  final case class Model(
      dim: Int, m: Int, k: Int,
      codebooks: Array[Array[Array[Double]]]) {
    val subDim: Int = dim / m
    def decode(code: Array[Byte]): Array[Double] = {
      val v = new Array[Double](dim)
      var s = 0
      while (s < m) {
        val c = codebooks(s)(code(s) & 0xff)
        System.arraycopy(c, 0, v, s * subDim, subDim)
        s += 1
      }
      v
    }
  }

  private def sqDist(a: Array[Double], aOff: Int, b: Array[Double],
      len: Int): Double = {
    var d = 0.0
    var i = 0
    while (i < len) {
      val x = a(aOff + i) - b(i); d += x * x; i += 1
    }
    d
  }

  /** Train M codebooks of K centroids each with `iters` Lloyd rounds on a
    * deterministic sample (driver-side: the sample is bounded by
    * `fitSample`, and PQ codebooks are KB-sized — the corpus never
    * leaves the executors).
    */
  def fit(df: DataFrame, idCol: Column, embCol: Column, dim: Int,
      m: Int, k: Int, iters: Int, seed: Long,
      fitSample: Int = 50000): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(k <= 256, s"k $k exceeds 256: codes are stored as one byte per subspace")
    val subDim = dim / m
    val sample: Array[Array[Double]] = df
      .select(embCol.as("e"), xxhash64(idCol, lit(seed)).as("h"))
      .orderBy("h").limit(fitSample) // TakeOrdered — bounded, no full sort
      .collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    require(sample.nonEmpty, "empty fit sample")

    val books = Array.tabulate(m) { s =>
      val off = s * subDim
      // deterministic farthest-point init: start at the first sample
      // (already hash-ordered), greedily add the point farthest from the
      // chosen set. minD caches each sample's distance to its nearest
      // chosen centroid; a new centroid can only LOWER a sample's min, so
      // updating against the newest centroid alone gives the same
      // selections as rescanning the whole set (VERDICT r7 #7: O(n·k) per
      // subspace instead of O(n·k²); ~k× on the 50k fit).
      val cents = new scala.collection.mutable.ArrayBuffer[Array[Double]]
      cents += java.util.Arrays.copyOfRange(sample(0), off, off + subDim)
      val minD = Array.tabulate(sample.length)(i =>
        sqDist(sample(i), off, cents(0), subDim))
      while (cents.length < math.min(k, sample.length)) {
        var bestIdx = 0; var bestD = -1.0
        var i = 0
        while (i < sample.length) {
          if (minD(i) > bestD) { bestD = minD(i); bestIdx = i }
          i += 1
        }
        val next = java.util.Arrays.copyOfRange(
          sample(bestIdx), off, off + subDim)
        cents += next
        var j = 0
        while (j < sample.length) {
          val d = sqDist(sample(j), off, next, subDim)
          if (d < minD(j)) minD(j) = d
          j += 1
        }
      }
      var centroids = cents.toArray
      // Lloyd rounds; empty cells keep their previous centroid
      var it = 0
      while (it < iters) {
        val sums = Array.fill(centroids.length)(new Array[Double](subDim))
        val cnts = new Array[Long](centroids.length)
        sample.foreach { v =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < centroids.length) {
            val d = sqDist(v, off, centroids(c), subDim)
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          var j = 0
          while (j < subDim) { sums(best)(j) += v(off + j); j += 1 }
          cnts(best) += 1
        }
        centroids = Array.tabulate(centroids.length) { c =>
          if (cnts(c) == 0) centroids(c)
          else sums(c).map(_ / cnts(c))
        }
        it += 1
      }
      centroids
    }
    Model(dim, m, books.head.length min k, books)
  }

  private def encodeVec(v: Array[Double], model: Model): Array[Byte] = {
    val code = new Array[Byte](model.m)
    var s = 0
    while (s < model.m) {
      val cb = model.codebooks(s)
      var best = 0; var bd = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val d = sqDist(v, s * model.subDim, cb(c), model.subDim)
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      code(s) = best.toByte
      s += 1
    }
    code
  }

  private def rowVec(a: Any): Array[Double] = a match {
    case s: scala.collection.Seq[_] => s.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray
  }

  /** One-pass encode: (id, code) with code(s) = index of the nearest
    * subspace-s centroid (strictly-smaller tie-break → stable codes).
    */
  def encode(df: DataFrame, idCol: Column, embCol: Column,
      model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(idCol.cast("long").as("vec_id"), embCol.as("e"))
      .map(r => (r.getLong(0), encodeVec(rowVec(r.get(1)), model)))
      .toDF("vec_id", "code")
  }

  /** ADC top-k: per-partition candidate pruning, exact tiny final sort.
    * Returns (q_id, vec_id, adc) for the k best codes per query.
    */
  def adcTopK(codes: DataFrame, model: Model,
      queries: Seq[(Long, Array[Double])], topK: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    // per-query M×K lookup tables (KB-sized, in closure)
    val tables: Array[(Long, Array[Array[Double]])] = queries.map {
      case (qid, qv) =>
        qid -> Array.tabulate(model.m) { s =>
          Array.tabulate(model.k) { c =>
            sqDist(qv, s * model.subDim, model.codebooks(s)(c),
              model.subDim)
          }
        }
    }.toArray
    val m = model.m
    val cand = codes.select(col("vec_id"), col("code"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // bounded per-partition top-k per query. Rank order is (dist asc,
        // vid asc) and the heap's head must be the element that order
        // calls WORST — max by (dist, vid) lexicographically. Getting the
        // tie arm wrong is not theoretical: identical codes have
        // IDENTICAL adc distances (PQ quantizes), so k-boundary ties are
        // routine and a mis-ordered heap makes the shortlist depend on
        // partition iteration order.
        val heaps = tables.map { case (qid, _) =>
          qid -> new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
            Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
        }
        it.foreach { case (vid, code) =>
          var qi = 0
          while (qi < tables.length) {
            val (qid, tab) = tables(qi)
            if (vid != qid) {
              var d = 0.0
              var s = 0
              while (s < m) { d += tab(s)(code(s) & 0xff); s += 1 }
              val h = heaps(qi)._2
              if (h.size < topK) h.enqueue((d, vid))
              else if (d < h.head._1 ||
                (d == h.head._1 && vid < h.head._2)) {
                h.dequeue(); h.enqueue((d, vid))
              }
            }
            qi += 1
          }
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (d, vid) => (qid, vid, d) }
        }
      }.toDF("q_id", "vec_id", "adc")
    // exact global top-k over the tiny candidate set
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adc").asc, col("vec_id").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select("q_id", "rn", "vec_id", "adc")
  }
}
