package graft

import org.apache.spark.sql.functions._

import graft.ops.{Multimodal, MultimodalAv}

/** The image tier: binary columns decoded through `javax.imageio` behind
  * the per-partition seam — resize, perceptual hash and the cross-modal
  * caption audit.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  // --- image fixtures (javax.imageio, JDK-builtin) ------------------------

  /** Deterministic in-memory image: solid `rgb` fill, encoded as `fmt`. */
  private def makeImage(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) }
    finally g.dispose()
    val buf = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, buf), s"no $fmt writer")
    buf.toByteArray
  }

  test("resizeImage scales real pixels, aspect-preserving, round-trippable") {
    val blobs = Seq(
      (1L, makeImage(640, 480, 0x336699, "png")), // downscale 2x
      (2L, makeImage(100, 50, 0xff0000, "png")),  // fits: untouched
      (3L, "junk".getBytes("UTF-8")))             // dropped
      .toDF("doc_id", "blob")
    val out = Multimodal.resizeImage(blobs, 320, 240).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 2, "undecodable blob not dropped")
    assert(out(1L).getInt(1) == 320 && out(1L).getInt(2) == 240)
    assert(out(2L).getInt(1) == 100 && out(2L).getInt(2) == 50)
    // output bytes are a real PNG: re-decoding yields the resized raster,
    // and a solid fill stays solid through the bilinear transform
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out(1L).getAs[Array[Byte]](3)))
    assert(back.getWidth == 320 && back.getHeight == 240)
    assert((back.getRGB(160, 120) & 0xffffff) == 0x336699)
  }

  test("a blob that the PNG reader claims but cannot decode is dropped, " +
    "not a failed task") {
    val png = makeImage(64, 48, 0x336699, "png")
    val blobs = Seq(
      (1L, png),
      (2L, java.util.Arrays.copyOf(png, png.length / 2))) // truncated
      .toDF("doc_id", "blob")
    val out = Multimodal.resizeImage(blobs, 32, 32).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("pHash: resize/re-encode twins hash within 3 bits; unrelated " +
    "images stay >= 8 apart; the hash is stable across runs") {
    import spark.implicits._
    val ids = spark.range(0, 60).toDF("doc_id")
    val corpus = Multimodal.syntheticImageCorpus(ids, 100000L)
    val h = Multimodal.perceptualHash(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h.size == 120, s"expected 60 base + 60 twins, got ${h.size}")
    (0L until 60L).foreach { i =>
      val d = java.lang.Long.bitCount(h(i) ^ h(i + 100000L))
      assert(d <= 3, s"twin of $i drifted $d bits")
    }
    for (i <- 0L until 60L; j <- (i + 1) until 60L) {
      val d = java.lang.Long.bitCount(h(i) ^ h(j))
      assert(d >= 8, s"unrelated $i,$j only $d bits apart")
    }
    // determinism: a fresh decode+hash run reproduces every hash
    val h2 = Multimodal.perceptualHash(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h2 == h, "pHash is not deterministic across runs")
  }

  test("pHash band join finds exactly the planted twin pairs — and " +
    "never via a pairwise plan") {
    import spark.implicits._
    val ids = spark.range(0, 60).toDF("doc_id")
    val corpus = Multimodal.syntheticImageCorpus(ids, 100000L)
    val pairs = MultimodalAv.hammingNearDup(
      Multimodal.perceptualHash(corpus), "doc_id", "phash", maxDist = 3)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band blocking degenerated to all-pairs:\n${plan.take(600)}")
    val got = pairs.orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 60L).map(i => (i, i + 100000L)),
      s"pairs mismatch: ${got.take(5)}...")
  }

  test("X82 cross-modal consistency: pixel-derived attributes equal the " +
    "id-derived truth; planted caption swaps are flagged exactly") {
    import spark.implicits._
    val ids = spark.range(0, 140).toDF("doc_id")
    // image leg alone: decoded pixels must reproduce gridTruth exactly
    // (PNG is lossless — any drift here is a decode/arithmetic bug)
    val attrs = Multimodal.gridAttributes(Multimodal.gridImages(ids))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(attrs.size == 140)
    (0L until 140L).foreach { i =>
      assert(attrs(i) == Multimodal.gridTruth(i),
        s"pixel attrs of $i = ${attrs(i)} != truth ${Multimodal.gridTruth(i)}")
    }
    // full audit: consistent == 0 exactly where the planted swap changed
    // an attribute (a swap between coincidentally-identical attribute
    // pairs is correctly reported consistent — replay the truth)
    val audit = Queries.byName("q189_caption_consistency")
      .build(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(5)).toMap
    assert(audit.nonEmpty)
    audit.foreach { case (id, flag) =>
      val src = if (id % 7 == 3) id + 1 else id
      val expect =
        if (Multimodal.gridTruth(src) == Multimodal.gridTruth(id)) 1 else 0
      assert(flag == expect, s"doc $id: consistent=$flag, expected $expect")
    }
    assert(audit.count(_._2 == 0) > 0, "no planted mismatch flagged")
  }
}
