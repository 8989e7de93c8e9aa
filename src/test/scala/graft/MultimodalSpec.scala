package graft

import org.apache.spark.sql.functions._

import graft.ops.{Multimodal, MultimodalAv}

/** Multimodal plumbing (north-star extension): binary columns + typed
  * metadata through the per-partition decode seam. The decode itself is a
  * documented deterministic stub.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeMeta carries schema and deterministic stub values") {
    val blobs = Seq(
      (1L, "hello world"), (2L, ""), (3L, "xyz")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val meta = Multimodal.decodeMeta(blobs)
    assert(meta.schema.fieldNames.toSeq ==
      Seq("doc_id", "n_bytes", "width", "height", "format"))
    val rows = meta.collect().map(m => m.doc_id -> m).toMap
    assert(rows(1L).n_bytes == 11 && rows(1L).width == 11)
    assert(rows(2L).n_bytes == 0 && rows(2L).format == "empty")
    // determinism across runs
    assert(Multimodal.decodeMeta(blobs).collect().toSet == meta.collect().toSet)
  }

  test("decodeMeta runs on the documents table end-to-end") {
    val blobs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    val meta = Multimodal.decodeMeta(blobs)
    assert(meta.count() == Tables.documents(spark, sf).count())
    assert(meta.filter(col("n_bytes") <= 0).count() == 0)
  }

  test("sampleFrames produces ceil(n/k) frames per blob") {
    val blobs = Seq((1L, "0123456789")).toDF("doc_id", "text")
      .select(col("doc_id"), col("text").as("blob"))
    val frames = Multimodal.sampleFrames(blobs, 3).collect()
    // offsets 0,3,6,9
    assert(frames.map(_.getInt(2)).toSeq == Seq(0, 3, 6, 9))
    assert(frames.map(_.getInt(1)).toSeq == Seq(0, 1, 2, 3))
  }

  test("resizeMeta preserves aspect ratio and never upscales") {
    val meta = Seq(
      Multimodal.MediaMeta(1L, 100, 640, 480, "png"),   // downscale 2x
      Multimodal.MediaMeta(2L, 100, 100, 50, "jpeg"),   // fits: untouched
      Multimodal.MediaMeta(3L, 100, 960, 240, "webp"))  // width-bound
      .toDS()
    val r = Multimodal.resizeMeta(meta, 320, 240).collect()
      .map(x => x.doc_id -> x).toMap
    assert(r(1L).width == 320 && r(1L).height == 240 && r(1L).scale == 0.5)
    assert(r(2L).width == 100 && r(2L).height == 50 && r(2L).scale == 1.0)
    assert(r(3L).width == 320 && r(3L).height == 80)
    // aspect preserved within integer floor
    assert(math.abs(r(3L).width.toDouble / r(3L).height - 4.0) < 0.1)
  }

  // --- real image path (javax.imageio, JDK-builtin) -----------------------

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

  test("decodeImage reads real PNG/BMP/JPEG dimensions and formats") {
    val blobs = Seq(
      (1L, makeImage(640, 480, 0x336699, "png")),
      (2L, makeImage(100, 50, 0xff0000, "bmp")),
      (3L, makeImage(8, 6, 0x00ff00, "jpeg")),
      (4L, "not an image".getBytes("UTF-8")),
      (5L, Array.empty[Byte]))
      .toDF("doc_id", "blob")
    val meta = Multimodal.decodeMeta(blobs, Multimodal.decodeImage)
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).width == 640 && meta(1L).height == 480 &&
      meta(1L).format == "png")
    assert(meta(2L).width == 100 && meta(2L).height == 50 &&
      meta(2L).format == "bmp")
    assert(meta(3L).width == 8 && meta(3L).height == 6 &&
      meta(3L).format.startsWith("jp"))
    // corrupt/empty blobs quarantine instead of killing the task
    assert(meta(4L).format == "undecodable" && meta(4L).width == 0)
    assert(meta(5L).format == "empty")
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

  test("extractPixelFeatures histograms real luminance") {
    val blobs = Seq(
      (1L, makeImage(16, 16, 0x000000, "png")),  // black → bin 0
      (2L, makeImage(16, 16, 0xffffff, "png")))  // white → bin 15
      .toDF("doc_id", "blob")
    val feats = Multimodal.extractPixelFeatures(blobs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L)(0) == 1.0f && feats(1L).sum == 1.0f)
    assert(feats(2L)(15) == 1.0f && feats(2L).sum == 1.0f)
  }

  test("extractFeatures emits L1-normalized fixed-dim vectors, batch-safe") {
    val blobs = Tables.documents(spark, sf).limit(100)
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
    // batchSize smaller than the row count exercises multi-batch grouping
    val feats = Multimodal.extractFeatures(blobs, batchSize = 7).collect()
    assert(feats.length == 100)
    feats.foreach { row =>
      val v = row.getSeq[Float](1)
      assert(v.length == 16)
      assert(math.abs(v.sum - 1.0) < 1e-4, "histogram not L1-normalized")
    }
    // features feed the similarity tier: cosine of a doc with itself = 1
    val f = Multimodal.extractFeatures(blobs).toDF("vec_id", "embedding")
    val self = f.select(
      aggregate(zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (a, x) => a + x).as("dot"))
      .filter(col("dot") <= 0.0).count()
    assert(self == 0L, "degenerate zero feature vector")
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
