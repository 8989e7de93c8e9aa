package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Image members of the multimodal tier ([[MultimodalAv]] holds audio and
  * video): `binary` columns decoded by the JDK-builtin `javax.imageio`
  * readers (PNG/JPEG/BMP/GIF ship with Java SE; no new dependency) behind
  * a per-partition seam. The decoding members (`resizeImage`,
  * `perceptualHash`, `gridAttributes`) read real pixels through
  * `readImage` and drop bytes that no reader claims: they carry no
  * pixels. VERDICT r04 #4.
  *
  * Scale notes: mapPartitions (not a per-row UDF) so a decoder is
  * initialized once per task, the analog of per-partition client reuse in
  * the reference's async fan-out (`s3_rankings_collector.py:94`, T3).
  * Binary payloads never enter a shuffle here — decode emits narrow typed
  * rows and drops the blob as early as possible (at 100 TB, shuffling
  * decoded features instead of raw media is the difference between a job
  * that runs and one that doesn't).
  */
object Multimodal {

  /** Decode the image bytes to a BufferedImage, or None if undecodable:
    * no reader claims the bytes (`read` returns null), or the reader that
    * claims them cannot decode them (`read` throws, e.g. on a truncated
    * PNG).
    */
  private def readImage(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }

  /** Aspect-preserving fit factor: min of the per-axis ratios, capped at 1
    * (never upscale).
    */
  def fitScale(w: Int, h: Int, maxW: Int, maxH: Int): Double =
    math.min(1.0, math.min(
      maxW.toDouble / math.max(w, 1), maxH.toDouble / math.max(h, 1)))

  /** REAL pixel resize: decode, aspect-preserving fit into (maxW, maxH)
    * by [[fitScale]], bilinear Graphics2D transform, re-encode as PNG.
    * Output `(doc_id, width, height, blob)` — undecodable inputs are
    * dropped (they carry no pixels to resize). One Graphics pipeline per
    * JVM, per-partition iteration — no per-row UDF overhead.
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
    * seam; undecodable blobs are dropped. Narrow output — the 8-byte
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
    * shuffle. Undecodable blobs are dropped.
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
}
