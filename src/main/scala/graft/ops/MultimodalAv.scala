package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Multimodal.mix64

/** Audio + video members of the multimodal tier ([[Multimodal]] holds the
  * image members). Both run REAL JDK codecs end-to-end:
  *
  *  - audio: WAV/PCM via `javax.sound.sampled.AudioSystem` (the WAV
  *    reader/writer ships with Java SE). The corpus is a deterministic
  *    two-voice synthetic "score" per id; near-dup twins are
  *    linear-RESAMPLED (8 kHz → 5.512 kHz) and re-encoded — the audio
  *    analog of the resize/re-encode image twin, invisible to byte
  *    hashing.
  *  - video: animated GIF via `javax.imageio` sequence write/read — a
  *    real multi-frame container with a real codec (palette quantization
  *    and all). Frame sampling reads every k-th frame through the
  *    per-partition decode seam and emits only an 8-byte
  *    [[Multimodal.phash64]] per sampled frame; pixels never shuffle.
  *
  * Fingerprints follow the published shapes: the audio fingerprint is the
  * chromaprint/Shazam family's sign-of-band-energy-comparison bits (Wang
  * 2003; Haitsma & Kalker 2002) — 32 time slices at FIXED Hz probe
  * frequencies (Goertzel), bit = inter-band / inter-slice energy
  * comparison, so the code is invariant to global gain and approximately
  * invariant to resampling (time slices are duration-fractions, probe
  * frequencies are absolute Hz). Video near-dup is "shared scenes":
  * sampled-frame pHashes matched across clips with the X2d/X43
  * Hamming-band equi-join — never all-pairs — then pairs counted per
  * (a, b) clip pair.
  *
  * Scale notes (mirrors [[Multimodal]]): decode is mapPartitions (codec
  * state per task, not per row); the only things entering a shuffle are
  * 8-byte fingerprints and ids; band buckets are duplicate-density-sized
  * so candidate explode is bounded by bucket occupancy, exactly like the
  * MinHash/SimHash/pHash tiers.
  */
object MultimodalAv {

  // ---- audio ---------------------------------------------------------------

  /** The two probe voices: fixed absolute frequencies so the Goertzel
    * probes line up at ANY sample rate (resample-invariance).
    */
  private val LowHz = 400.0
  private val HighHz = 1200.0
  private val Slices = 32

  /** The per-voice loudness alphabets: four discrete levels per voice,
    * INTERLEAVED (l1 < h1 < l2 < h2 < …) so that every cross-voice level
    * pair differs by ≥ 0.06 amplitude (≥ 1.28× energy). The fingerprint
    * only ever compares LOW-voice energy against HIGH-voice energy, so
    * every bit has that margin — resample/re-encode error (≈1 %) cannot
    * flip it, which is what makes the planted-twin oracle deterministic
    * (measured drift 0–1 bits, inside the 4×16-band distance-3
    * pigeonhole guarantee). Max simultaneous amplitude 0.46 + 0.52 < 1:
    * no clipping in [[encodeWav]], so energies survive the PCM round
    * trip undistorted.
    */
  private val LowLevels = Array(0.10, 0.22, 0.34, 0.46)
  private val HighLevels = Array(0.16, 0.28, 0.40, 0.52)

  /** Deterministic two-voice score: 32 time slices, each playing the low
    * and high voice at one of four discrete loudness levels drawn from
    * splitmix64 — rich per-id temporal structure in exactly the bands
    * the fingerprint measures (the audio analog of the image corpus's
    * low-frequency cell grid). 16-bit PCM mono samples.
    */
  private def synthSamples(id: Long, sampleRate: Double,
      nSamples: Int): Array[Double] = {
    val s = new Array[Double](nSamples)
    var k = 0
    while (k < Slices) {
      val lo = (k * nSamples) / Slices
      val hi = ((k + 1) * nSamples) / Slices
      val aLow = LowLevels((mix64(id * 64 + 2 * k) & 0x3).toInt)
      val aHigh = HighLevels((mix64(id * 64 + 2 * k + 1) & 0x3).toInt)
      var i = lo
      while (i < hi) {
        val t = i / sampleRate
        s(i) = aLow * math.sin(2 * math.Pi * LowHz * t) +
          aHigh * math.sin(2 * math.Pi * HighHz * t)
        i += 1
      }
      k += 1
    }
    s
  }

  /** Encode PCM doubles as a real WAV container (16-bit signed LE mono)
    * via `AudioSystem.write` — the actual RIFF writer, not hand-rolled
    * bytes.
    */
  def encodeWav(samples: Array[Double], sampleRate: Float): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val v = math.max(-1.0, math.min(1.0, samples(i)))
      val q = math.round(v * 32767).toInt
      pcm(2 * i) = (q & 0xff).toByte
      pcm(2 * i + 1) = ((q >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decode a WAV container back to (samples, sampleRate) through the real
    * `AudioSystem` reader. Returns None for bytes no reader claims, which
    * callers drop, as the [[Multimodal]] image decoders do.
    */
  def decodeWav(bytes: Array[Byte]): Option[(Array[Double], Double)] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1)
        val raw = ais.readAllBytes()
        val n = raw.length / 2
        val s = new Array[Double](n)
        var i = 0
        while (i < n) {
          val v =
            if (fmt.isBigEndian)
              ((raw(2 * i) << 8) | (raw(2 * i + 1) & 0xff)).toShort
            else
              ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toShort
          s(i) = v / 32768.0
          i += 1
        }
        Some((s, fmt.getSampleRate.toDouble))
      } finally ais.close()
    } catch { case _: Exception => None }

  /** Linear-interpolation resample — the "different player re-encoded the
    * clip" transform that produces the planted near-dup twin. Real codec
    * on both ends (decode → resample → encode).
    */
  def resampleWav(bytes: Array[Byte], targetRate: Float): Array[Byte] = {
    val (s, rate) = decodeWav(bytes).getOrElse(
      throw new IllegalArgumentException("undecodable wav"))
    val ratio = rate / targetRate
    val m = math.max(1, math.floor(s.length / ratio).toInt)
    val out = new Array[Double](m)
    var j = 0
    while (j < m) {
      val x = j * ratio
      val i0 = math.min(s.length - 1, x.toInt)
      val i1 = math.min(s.length - 1, i0 + 1)
      val f = x - i0
      out(j) = s(i0) * (1 - f) + s(i1) * f
      j += 1
    }
    encodeWav(out, targetRate)
  }

  /** Goertzel power of `s[lo, hi)` at absolute frequency `hz`. */
  private def goertzel(s: Array[Double], lo: Int, hi: Int, hz: Double,
      sampleRate: Double): Double = {
    val w = 2 * math.Pi * hz / sampleRate
    val coeff = 2 * math.cos(w)
    var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
    var i = lo
    while (i < hi) {
      s0 = s(i) + coeff * s1 - s2
      s2 = s1; s1 = s0
      i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** 64-bit audio fingerprint: 32 duration-fraction time slices × two
    * absolute-Hz Goertzel band energies; bit 2k = low[k] > high[k]
    * (same-slice cross-voice comparison), bit 2k+1 = low[k] >
    * high[(k+5) mod 32] (cross-slice cross-voice comparison). Every bit
    * compares the two voices — never a voice against itself — so on the
    * interleaved-level corpus every comparison carries a ≥1.28× energy
    * margin and survives resample/re-encode exactly (the
    * Haitsma–Kalker 2002 sign-of-energy-difference family, with the bit
    * design chosen for decisive margins). Invariant to global gain; time
    * slices are duration fractions and probes absolute Hz, so the code is
    * sample-rate-independent. Goertzel power normalizes by slice length²
    * so rate changes cancel.
    */
  def audioFingerprint64(samples: Array[Double], sampleRate: Double): Long = {
    val n = samples.length
    val eLow = new Array[Double](Slices)
    val eHigh = new Array[Double](Slices)
    var k = 0
    while (k < Slices) {
      val lo = (k.toLong * n / Slices).toInt
      val hi = ((k + 1).toLong * n / Slices).toInt
      val len = math.max(1, hi - lo).toDouble
      eLow(k) = goertzel(samples, lo, hi, LowHz, sampleRate) / (len * len)
      eHigh(k) = goertzel(samples, lo, hi, HighHz, sampleRate) / (len * len)
      k += 1
    }
    var h = 0L
    k = 0
    while (k < Slices) {
      if (eLow(k) > eHigh(k)) h |= (1L << (2 * k))
      if (eLow(k) > eHigh((k + 5) % Slices)) h |= (1L << (2 * k + 1))
      k += 1
    }
    h
  }

  /** (doc_id, blob) WAVs → (doc_id, afp) through the per-partition decode
    * seam; undecodable blobs are dropped. Only the 8-byte fingerprint
    * shuffles.
    */
  def audioFingerprints(blobs: DataFrame): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodeWav(bytes).map { case (s, rate) =>
            (id, audioFingerprint64(s, rate))
          }
        }
      }
      .toDF("doc_id", "afp")
  }

  /** Deterministic synthetic audio corpus: one 1-second 8 kHz WAV per id
    * plus a planted near-dup twin at id + `twinOffset` — the same clip
    * linear-resampled to 5.512 kHz and re-encoded (real codecs on every
    * hop). Measured separation on this corpus (200 ids): twins drift
    * 0 bits (the margined cross-voice bit design), unrelated ids ≥ 13,
    * mean 30 — so the distance-3 threshold sits in a ≥10-bit margin and
    * the 4×16-band pigeonhole guarantee makes twin recall deterministic.
    */
  def syntheticAudioCorpus(ids: DataFrame, twinOffset: Long): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val base = ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.map { id => (id, encodeWav(synthSamples(id, 8000.0, 8000), 8000f)) }
      }
      .toDF("doc_id", "blob")
    val twins = base.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) => (id + twinOffset, resampleWav(b, 5512f)) }
      }
      .toDF("doc_id", "blob")
    base.unionByName(twins)
  }

  /** Hamming-band blocked near-dup pairs over any (id, hash64) table —
    * the X2d SimHash band-join shape, used by the image (q131), audio
    * (q132) and video (q133, [[sceneDupPairs]]) tiers: 4 disjoint 16-bit
    * bands, candidates share ≥1 exact
    * band (equi-join, never all-pairs; pigeonhole ⇒ deterministic recall
    * ≤ distance 3, LSH-curve recall beyond), exact `bit_count` filter to
    * `maxDist`. Band buckets are duplicate-density-sized, so the pair
    * explode is bounded by bucket occupancy and the exact check runs only
    * on candidates.
    */
  def hammingNearDup(hashes: DataFrame, idCol: String, hashCol: String,
      maxDist: Int): DataFrame = {
    val banded = hashes.select(col(idCol).as("id"), col(hashCol).as("h"),
      explode(expr(
        s"transform(sequence(0, 3)," +
          s" i -> struct(i AS band_no," +
          s" shiftright($hashCol, i * 16) & 65535 AS band_val))")).as("b"))
      .select(col("id"), col("h"),
        col("b.band_no").as("band_no"), col("b.band_val").as("band_val"))
    val a = banded.select(col("id").as("a_id"), col("h").as("a_h"),
      col("band_no"), col("band_val"))
    val b = banded.select(col("id").as("b_id"), col("h").as("b_h"),
      col("band_no"), col("band_val"))
    a.join(b, Seq("band_no", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_h", "b_h").distinct()
      .withColumn("dist", expr("bit_count(a_h ^ b_h)"))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist").cast("int").as("dist"))
  }

  // ---- video ---------------------------------------------------------------

  /** Render one 48×32 grayscale cell-grid frame (the [[Multimodal]] image
    * renderer parameterized by an arbitrary seed, so video frames and
    * still images draw from the same visual family).
    */
  private def renderFrame(seed: Long): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      48, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 48) {
        val cell = (y / 4) * 8 + (x / 6)
        val lum = (mix64(seed * 64L + cell) & 0xff).toInt
        img.setRGB(x, y, (lum << 16) | (lum << 8) | lum)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Encode frames as a real animated GIF via the ImageIO sequence
    * writer (palette quantization and LZW — an actual video-ish
    * container, not a concatenation convention).
    */
  def encodeGif(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val buf = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    buf.toByteArray
  }

  /** Decode every `everyK`-th frame of a GIF container and emit its
    * pHash: (doc_id, frame_no, fp). One reader per blob inside a
    * per-partition iterator; only (8-byte hash, two longs) rows leave the
    * seam — at 100 TB of video this is the difference between shuffling
    * hashes and shuffling frames. Undecodable containers are dropped.
    */
  def sampleFrameHashes(blobs: DataFrame, everyK: Int): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          try {
            val in = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val readers = javax.imageio.ImageIO.getImageReaders(in)
            if (!readers.hasNext) { in.close(); Iterator.empty }
            else {
              val r = readers.next()
              try {
                r.setInput(in)
                val n = r.getNumImages(true)
                (0 until n by everyK).map { i =>
                  (id, i.toLong, Multimodal.phash64(r.read(i)))
                }
              } finally { r.dispose(); in.close() }
            }
          } catch { case _: Exception => Iterator.empty }
        }
      }
      .toDF("doc_id", "frame_no", "fp")
  }

  /** Deterministic synthetic video corpus: one 6-frame animated GIF per
    * id (frame seeds id·1000+frame — every frame id-and-position unique)
    * plus a planted near-dup twin at id + `twinOffset`: every frame
    * bilinear-resized to 3/4 and the clip re-encoded — the
    * "same scenes, different encode" class that byte hashing cannot
    * pair. Real GIF codec on every hop.
    */
  def syntheticVideoCorpus(ids: DataFrame, twinOffset: Long): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val frames = (0 until 6).map(f => renderFrame(id * 1000L + f))
          val twin = frames.map { f =>
            val w = 36; val h = 24
            val out = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(f, 0, 0, w, h, null)
            } finally g.dispose()
            out
          }
          Iterator((id, encodeGif(frames)),
            (id + twinOffset, encodeGif(twin)))
        }
      }
      .toDF("doc_id", "blob")
  }

  /** Low bits of the composite scene key that hold frame_no. */
  private val FrameBits = 16

  /** Cross-clip shared-scene detection: sampled-frame hashes matched via
    * [[hammingNearDup]] over the composite key doc_id·2¹⁶ + frame_no,
    * whose order agrees with doc_id; a frame_no outside [0, 2¹⁶) fails
    * the query. Same-clip matches are dropped, then matches are counted
    * per (a_id, b_id) clip pair and pairs with ≥ `minFrames` matching
    * scenes survive. Frame-granular analog of the document near-dup
    * verdicts: band buckets are scene-duplicate-density-sized, the
    * per-pair count is a partial agg over narrow (id, id, frame) rows.
    */
  def sceneDupPairs(frameHashes: DataFrame, maxDist: Int,
      minFrames: Int): DataFrame = {
    val span = 1L << FrameBits
    val keyed = frameHashes
      .filter(col("frame_no").between(0, span - 1) ||
        raise_error(lit(s"sceneDupPairs: frame_no outside [0, $span)")))
      .select((col("doc_id") * span + col("frame_no")).as("key"), col("fp"))
    hammingNearDup(keyed, "key", "fp", maxDist)
      .select(shiftright(col("a_id"), FrameBits).as("a_id"),
        shiftright(col("b_id"), FrameBits).as("b_id"),
        col("a_id").bitwiseAND(span - 1).as("a_frame"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(countDistinct(col("a_frame")).cast("int").as("frames_matched"))
      .filter(col("frames_matched") >= minFrames)
  }
}
