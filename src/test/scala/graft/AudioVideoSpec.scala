package graft

import org.apache.spark.sql.functions._

import graft.ops.MultimodalAv

/** Audio + video members of the multimodal tier: real JDK codecs
  * (javax.sound WAV, ImageIO animated GIF) behind the per-partition
  * decode seam, 64-bit fingerprints, Hamming-band near-dup blocking.
  */
class AudioVideoSpec extends SparkSpec {
  import spark.implicits._

  // ---- audio ---------------------------------------------------------------

  test("WAV encode/decode round-trips samples through the real codec") {
    val s = Array.tabulate(4000)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / 8000.0))
    val bytes = MultimodalAv.encodeWav(s, 8000f)
    // RIFF magic: a real WAV container, not a raw PCM dump
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    val (back, rate) = MultimodalAv.decodeWav(bytes).get
    assert(rate == 8000.0 && back.length == 4000)
    // 16-bit quantization bounds the round-trip error
    s.zip(back).foreach { case (a, b) => assert(math.abs(a - b) < 1e-3) }
    assert(MultimodalAv.decodeWav("not audio".getBytes("UTF-8")).isEmpty)
  }

  test("audio fingerprint: resample/re-encode twins within 2 bits; " +
    "unrelated clips >= 10 apart; deterministic") {
    // measured over 200 ids: twins drift 0 bits (margined cross-voice
    // comparisons), unrelated min 13 / mean 30 — asserted with headroom
    val ids = spark.range(0, 40).toDF("doc_id")
    val corpus = MultimodalAv.syntheticAudioCorpus(ids, 100000L)
    val h = MultimodalAv.audioFingerprints(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h.size == 80, s"expected 40 base + 40 twins, got ${h.size}")
    (0L until 40L).foreach { i =>
      val d = java.lang.Long.bitCount(h(i) ^ h(i + 100000L))
      assert(d <= 2, s"twin of $i drifted $d bits")
    }
    for (i <- 0L until 40L; j <- (i + 1) until 40L) {
      val d = java.lang.Long.bitCount(h(i) ^ h(j))
      assert(d >= 10, s"unrelated $i,$j only $d bits apart")
    }
    val h2 = MultimodalAv.audioFingerprints(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h2 == h, "audio fingerprint not deterministic")
  }

  test("audio band join finds exactly the planted twin pairs, " +
    "never via a pairwise plan") {
    val ids = spark.range(0, 40).toDF("doc_id")
    val corpus = MultimodalAv.syntheticAudioCorpus(ids, 100000L)
    val pairs = MultimodalAv.hammingNearDup(
      MultimodalAv.audioFingerprints(corpus), "doc_id", "afp", maxDist = 3)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band blocking degenerated to all-pairs:\n${plan.take(600)}")
    val got = pairs.orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 40L).map(i => (i, i + 100000L)),
      s"pairs mismatch: ${got.take(5)}...")
  }

  // ---- video ---------------------------------------------------------------

  test("animated GIF encode → frame-sampled decode reads every k-th frame") {
    val ids = spark.range(7, 9).toDF("doc_id")
    val corpus = MultimodalAv.syntheticVideoCorpus(ids, 100000L)
    assert(corpus.count() == 4) // 2 base + 2 twins
    // GIF89a magic on a sample blob: a real container
    val blob = corpus.filter(col("doc_id") === 7L)
      .select("blob").head().getAs[Array[Byte]](0)
    assert(new String(blob.take(6), "US-ASCII").startsWith("GIF8"))
    val frames = MultimodalAv.sampleFrameHashes(corpus, everyK = 2)
    // 6 frames per clip, k=2 → frames 0, 2, 4
    val byDoc = frames.collect().groupBy(_.getLong(0))
    assert(byDoc.keySet.size == 4)
    byDoc.values.foreach { fs =>
      assert(fs.map(_.getLong(1)).sorted.toSeq == Seq(0L, 2L, 4L))
    }
    // undecodable containers are dropped, not fatal
    val junk = Seq((1L, "junk".getBytes("UTF-8"))).toDF("doc_id", "blob")
    assert(MultimodalAv.sampleFrameHashes(junk, 2).count() == 0)
  }

  test("scene dedup: twin clips match on every sampled frame; " +
    "unrelated clips never pair; no pairwise plan") {
    val ids = spark.range(0, 30).toDF("doc_id")
    val corpus = MultimodalAv.syntheticVideoCorpus(ids, 100000L)
    val frames = MultimodalAv.sampleFrameHashes(corpus, everyK = 2)
    val pairs = MultimodalAv.sceneDupPairs(frames, maxDist = 3, minFrames = 2)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"scene matching degenerated to all-pairs:\n${plan.take(600)}")
    val got = pairs.orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == (0L until 30L).map(i => (i, i + 100000L, 3)),
      s"pairs mismatch: ${got.take(5)}...")
    // a frame_no the composite (doc_id, frame_no) key cannot hold fails
    // the query instead of pairing the wrong clips
    val wide = Seq((1L, 1L << 16, 0L), (2L, 0L, 0L))
      .toDF("doc_id", "frame_no", "fp")
    val e = intercept[Exception](
      MultimodalAv.sceneDupPairs(wide, maxDist = 3, minFrames = 1).collect())
    assert(e.getMessage.contains("frame_no outside"), e.getMessage)
  }
}
