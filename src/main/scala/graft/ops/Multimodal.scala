package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing — north-star extension (BASELINE.json): treat
  * image/audio/video as opaque `binary` columns with typed metadata, with
  * the decode step behind a per-partition seam.
  *
  * Two decoders plug into the same seam:
  *  - [[decodeImage]] — REAL image decode via JDK-builtin `javax.imageio`
  *    (PNG/JPEG/BMP/GIF readers ship with Java SE; no new dependency).
  *    Width/height/format come from actual decoded pixels, and
  *    [[resizeImage]] / [[extractPixelFeatures]] consume those pixels
  *    (scaled re-encode; luminance histogram). VERDICT r04 #4.
  *  - [[decodeStub]] — the deterministic fake kept for the non-image blob
  *    paths (the testdata's blobs are text bytes) and as the documented
  *    plug point for codecs the JDK lacks (audio/video need external libs).
  *
  * Scale notes: mapPartitions (not a per-row UDF) so a real decoder is
  * initialized once per task, the analog of per-partition client reuse in
  * the reference's async fan-out (`s3_rankings_collector.py:94`, T3).
  * Binary payloads never enter a shuffle here — decode emits narrow typed
  * metadata and drops the blob as early as possible (at 100 TB, shuffling
  * decoded features instead of raw media is the difference between a job
  * that runs and one that doesn't).
  */
object Multimodal {

  /** Decoded-media metadata record. */
  case class MediaMeta(
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      format: String)

  /** The decoder seam: bytes → metadata. Deterministic stub; a real
    * implementation would parse the container header / decode a frame.
    */
  def decodeStub(id: Long, bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length
    // fake "header sniff": first byte selects a format bucket
    val formats = Array("png", "jpeg", "webp", "wav")
    val fmt =
      if (n == 0) "empty"
      else formats(java.lang.Byte.toUnsignedInt(bytes(0)) % 4)
    MediaMeta(id, n, n % 640, (n * 7) % 480, fmt)
  }

  /** REAL image decode: `javax.imageio` header sniff + pixel decode.
    * Returns actual raster dimensions and the reader's format name
    * (png/jpeg/bmp/gif with a stock JDK); bytes no reader claims decode to
    * `(0, 0, "undecodable")` rather than throwing — at 100 TB a corrupt
    * blob must not kill the task, it must land in a quarantine partition.
    */
  def decodeImage(id: Long, bytes: Array[Byte]): MediaMeta = {
    val in = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (bytes.isEmpty || !readers.hasNext)
        MediaMeta(id, bytes.length, 0, 0,
          if (bytes.isEmpty) "empty" else "undecodable")
      else {
        val r = readers.next()
        try {
          r.setInput(in)
          val img = r.read(0) // full pixel decode, not just the header
          MediaMeta(id, bytes.length, img.getWidth, img.getHeight,
            r.getFormatName.toLowerCase)
        } finally r.dispose()
      }
    } finally in.close()
  }

  /** Decode the image bytes to a BufferedImage, or None if undecodable. */
  private def readImage(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] =
    Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))

  /** (id, blob) DataFrame → typed metadata via one decoder per partition.
    * `decoder` defaults to the deterministic stub (the declared q52 path
    * over text-byte blobs); pass [[decodeImage]] for real media columns.
    */
  def decodeMeta(blobs: DataFrame,
      decoder: (Long, Array[Byte]) => MediaMeta = decodeStub)
      : Dataset[MediaMeta] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // real decoders initialize here, once per task
        it.map { case (id, bytes) => decoder(id, bytes) }
      }
  }

  /** Frame-sample stub: pick every k-th byte as a "frame" payload — stands
    * in for video frame sampling; demonstrates one-blob→N-rows with narrow
    * output (explode shape R1).
    */
  def sampleFrames(blobs: DataFrame, everyK: Int): DataFrame =
    blobs.select(col("doc_id"), col("blob").cast("binary").as("b"))
      .select(col("doc_id"),
        posexplode(sequence(lit(0),
          greatest(length(col("b")) - 1, lit(0)), lit(everyK)))
          .as(Seq("frame_no", "offset")))
      .select(col("doc_id"), col("frame_no"), col("offset"))

  /** Resized-media metadata: aspect-preserving fit into (maxW, maxH). The
    * arithmetic is the real resize contract (scale = min of the per-axis
    * ratios, never upscale); only the pixel transform a real library would
    * do is absent. Runs on decoded metadata, not blobs — by the time
    * dimensions exist the payload is already dropped.
    */
  case class ResizedMeta(
      doc_id: Long,
      width: Int,
      height: Int,
      scale: Double)

  /** Aspect-preserving fit factor: min of the per-axis ratios, capped at 1
    * (never upscale). Shared by the metadata form and the pixel form so
    * their dimension arithmetic cannot drift.
    */
  def fitScale(w: Int, h: Int, maxW: Int, maxH: Int): Double =
    math.min(1.0, math.min(
      maxW.toDouble / math.max(w, 1), maxH.toDouble / math.max(h, 1)))

  def resizeMeta(meta: Dataset[MediaMeta], maxW: Int, maxH: Int)
      : Dataset[ResizedMeta] = {
    val spark = meta.sparkSession
    import spark.implicits._
    meta.map { m =>
      val w = math.max(m.width, 1)
      val h = math.max(m.height, 1)
      val s = fitScale(w, h, maxW, maxH)
      ResizedMeta(m.doc_id,
        math.max(1, math.floor(w * s).toInt),
        math.max(1, math.floor(h * s).toInt), s)
    }
  }

  /** REAL pixel resize: decode, aspect-preserving fit into (maxW, maxH)
    * with the same [[fitScale]] contract as the metadata form, bilinear
    * Graphics2D transform, re-encode as PNG. Output `(doc_id, width,
    * height, blob)` — undecodable inputs are dropped (they carry no
    * pixels to resize; the quarantine path is [[decodeImage]]'s
    * "undecodable" rows). One Graphics pipeline per JVM, per-partition
    * iteration — no per-row UDF overhead.
    */
  def resizeImage(blobs: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          readImage(bytes).map { img =>
            val s = fitScale(img.getWidth, img.getHeight, maxW, maxH)
            val w = math.max(1, math.floor(img.getWidth * s).toInt)
            val h = math.max(1, math.floor(img.getHeight * s).toInt)
            val out = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, w, h, null)
            } finally g.dispose()
            val buf = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", buf)
            (id, w, h, buf.toByteArray)
          }
        }
      }
      .toDF("doc_id", "width", "height", "blob")
  }

  /** REAL pixel features: 16-bin luminance histogram over decoded pixels
    * (ITU-R BT.601 luma), L1-normalized Array[Float] — the image analog of
    * [[extractFeatures]]' byte histogram, feeding the same similarity tier.
    * Undecodable inputs are dropped.
    */
  def extractPixelFeatures(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          readImage(bytes).map { img =>
            val hist = new Array[Float](16)
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                val lum = (299 * ((rgb >> 16) & 0xff) +
                  587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
                hist(lum / 16) += 1f
                x += 1
              }
              y += 1
            }
            val n = math.max(img.getWidth * img.getHeight, 1).toFloat
            var j = 0
            while (j < 16) { hist(j) /= n; j += 1 }
            (id, hist)
          }
        }
      }
      .toDF("doc_id", "features")
  }

  // ---- perceptual hash (image near-dup tier) ------------------------------

  /** 32-point DCT-II basis, a(u)·cos((2x+1)uπ/64) — precomputed once per
    * JVM (the per-task initialization a mapPartitions decoder amortizes).
    */
  private lazy val dctBasis: Array[Array[Double]] = {
    val n = 32
    Array.tabulate(n, n) { (u, x) =>
      val a = if (u == 0) math.sqrt(1.0 / n) else math.sqrt(2.0 / n)
      a * math.cos((2 * x + 1) * u * math.Pi / (2 * n))
    }
  }

  /** Classic DCT perceptual hash (pHash): grayscale bilinear resize to
    * 32×32 → 2D DCT-II → keep the low-frequency 8×8 block → each bit is
    * coefficient > median-of-block. Two images that differ only by
    * resize / re-encode / mild noise keep most low-frequency structure,
    * so their hashes sit within a few bits of each other; unrelated
    * images land ~32 bits apart. Pure double math over a deterministic
    * JDK decode — same bytes, same hash, every task.
    */
  def phash64(img: java.awt.image.BufferedImage): Long = {
    val n = 32
    val gray = new java.awt.image.BufferedImage(
      n, n, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = gray.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, n, n, null)
    } finally g.dispose()
    val p = Array.ofDim[Double](n, n)
    var y = 0
    while (y < n) {
      var x = 0
      while (x < n) {
        p(y)(x) = gray.getRaster.getSample(x, y, 0).toDouble
        x += 1
      }
      y += 1
    }
    // separable 2D DCT, low 8×8 block only: C · P · Cᵀ restricted to u,v<8
    val block = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var yy = 0
        while (yy < n) {
          var xx = 0
          var row = 0.0
          while (xx < n) { row += p(yy)(xx) * dctBasis(v)(xx); xx += 1 }
          s += row * dctBasis(u)(yy)
          yy += 1
        }
        block(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val sorted = block.clone(); java.util.Arrays.sort(sorted)
    val median = (sorted(31) + sorted(32)) / 2.0
    var h = 0L
    var i = 0
    while (i < 64) { if (block(i) > median) h |= (1L << i); i += 1 }
    h
  }

  /** (doc_id, blob) → (doc_id, phash) through the per-partition decode
    * seam; undecodable blobs are dropped (the quarantine path is
    * [[decodeImage]]'s "undecodable" rows). Narrow output — the 8-byte
    * hash is what shuffles, never pixels.
    */
  def perceptualHash(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          readImage(bytes).map(img => (id, phash64(img)))
        }
      }
      .toDF("doc_id", "phash")
  }

  /** splitmix64 finalizer — the deterministic per-cell luminance source
    * for [[syntheticImageCorpus]] and the [[MultimodalAv]] corpora.
    */
  private[ops] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic synthetic image corpus for the declared phash query:
    * each id renders a 48×32 PNG of an 8×8 grid of cells whose
    * luminances are splitmix64(id, cell) — rich, id-unique LOW-frequency
    * structure (exactly the band the 8×8 DCT block measures), so
    * distinct ids land ~half the hash apart. Each image gets a NEAR-DUP
    * TWIN (id + `twinOffset`): bilinear-resized to 3/4 and re-encoded —
    * the resize/re-encode near-dup class, detectable by phash but
    * invisible to exact byte hashing. Real codecs end-to-end (ImageIO
    * PNG write → read); the renderer stands in for "images arrived in a
    * binary column" since the testdata blobs are text bytes.
    */
  def syntheticImageCorpus(ids: DataFrame, twinOffset: Long): DataFrame = {
    val base = gridImages(ids)
    val twins = resizeImage(base, 36, 24)
      .select((col("doc_id") + twinOffset).as("doc_id"), col("blob"))
    base.unionByName(twins)
  }

  /** The base grid-image render shared by [[syntheticImageCorpus]] (which
    * adds resize twins for the phash near-dup tier) and the cross-modal
    * caption corpus (which adds captions): one 48×32 PNG per id, encoded
    * through the real ImageIO codec. Byte-identical to what
    * syntheticImageCorpus always produced — same render loop, same encode.
    */
  def gridImages(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val img = new java.awt.image.BufferedImage(
            48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < 32) {
            var x = 0
            while (x < 48) {
              val cell = (y / 4) * 8 + (x / 6)
              val lum = (mix64(id * 64L + cell) & 0xff).toInt
              img.setRGB(x, y, (lum << 16) | (lum << 8) | lum)
              x += 1
            }
            y += 1
          }
          val buf = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", buf)
          (id, buf.toByteArray)
        }
      }
      .toDF("doc_id", "blob")
  }

  // ---- cross-modal caption↔image consistency (X82) -------------------------

  /** Ground-truth grid attributes computed from the ID (the caption
    * generator's source, NOT the image leg's): brightest cell index (ties
    * broken to the lowest index) and mean-luminance bucket
    * (⌊⌊Σcells/64⌋/32⌋ ∈ [0,8)). The image leg must recover the same two
    * numbers from DECODED PIXELS ([[gridAttributes]]) — PNG is lossless,
    * so agreement is exact, and any caption planted from a DIFFERENT id is
    * detectable unless that other id coincidentally shares both
    * attributes (the verify gate replays this truth function in python
    * and accounts for exactly those coincidences).
    */
  def gridTruth(id: Long): (Int, Int) = {
    var best = 0
    var bestV = -1
    var sum = 0L
    var cell = 0
    while (cell < 64) {
      val v = (mix64(id * 64L + cell) & 0xff).toInt
      if (v > bestV) { bestV = v; best = cell }
      sum += v
      cell += 1
    }
    (best, ((sum / 64L) / 32L).toInt)
  }

  /** Caption-paired image corpus with planted mismatches: each id gets its
    * grid PNG plus an English caption DESCRIBING the image's measurable
    * content ("brightest cell", "mean bucket") — except ids where
    * `id % 7 == 3`, whose caption is generated from id+1's content: the
    * planted cross-modal mismatch class (caption swapped/corrupted during
    * pairing — the defect a consistency audit exists to catch). Captions
    * are pure functions of ids, so the planted set is exactly replayable
    * by the verify gate.
    */
  def captionedImageCorpus(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val captions = ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val src = if (id % 7 == 3) id + 1 else id
          val (bright, bucket) = gridTruth(src)
          (id, s"synthetic grid photo: brightest cell $bright, " +
            s"mean bucket $bucket")
        }
      }
      .toDF("doc_id", "caption")
    gridImages(ids).join(captions, "doc_id")
  }

  /** The image leg of the consistency audit: per-partition PNG decode →
    * the same two attributes as [[gridTruth]], derived ONLY from pixels
    * (per-cell integer mean over its 6×4 block; total-pixel-sum bucket —
    * ⌊⌊24·Σcells/1536⌋/32⌋ ≡ ⌊⌊Σcells/64⌋/32⌋ exactly, both integer
    * divisions). Narrow (id, int, int) rows leave the seam; pixels never
    * shuffle. Undecodable blobs are dropped (the quarantine contract of
    * [[decodeImage]]).
    */
  def gridAttributes(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          readImage(bytes).map { img =>
            var best = 0
            var bestV = -1L
            var total = 0L
            var cell = 0
            while (cell < 64) {
              val x0 = (cell % 8) * 6
              val y0 = (cell / 8) * 4
              var s = 0L
              var dy = 0
              while (dy < 4) {
                var dx = 0
                while (dx < 6) {
                  s += (img.getRGB(x0 + dx, y0 + dy) & 0xff)
                  dx += 1
                }
                dy += 1
              }
              val v = s / 24L // cells are flat, but derive via the mean
              if (v > bestV) { bestV = v; best = cell }
              total += s
              cell += 1
            }
            (id, best, ((total / 1536L) / 32L).toInt)
          }
        }
      }
      .toDF("doc_id", "img_bright", "img_bucket")
  }

  /** Feature extraction: 16-bin byte histogram, L1-normalized to a
    * fixed-dim Array[Float]. Unlike the decode this is NOT a stub — a byte
    * histogram is a real (if simple) content feature, and its output plugs
    * straight into the similarity tier (cosine top-k / LSH buckets over
    * Array[Float], QueriesText). Batched per partition: the iterator is
    * consumed in `batchSize` groups, the shape a vectorized extractor
    * (BLAS, ONNX session) needs — one native call per batch, not per row.
    */
  def extractFeatures(blobs: DataFrame, batchSize: Int = 256): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a real extractor binds its native session here, once per task,
        // then feeds fixed-size batches
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, bytes) =>
            val hist = new Array[Float](16)
            var i = 0
            while (i < bytes.length) {
              hist(java.lang.Byte.toUnsignedInt(bytes(i)) / 16) += 1f
              i += 1
            }
            val n = math.max(bytes.length, 1).toFloat
            var j = 0
            while (j < 16) { hist(j) /= n; j += 1 }
            (id, hist)
          }
        }
      }
      .toDF("doc_id", "features")
  }
}
