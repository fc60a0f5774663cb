package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads travel as
  * opaque `binary` columns with a typed metadata struct alongside.
  *
  * Image decode is REAL end-to-end: header dimensions through native
  * column expressions / a marker-walk UDF (`decodeDims`), pixel
  * statistics through `javax.imageio` (`decodePixels` — PNG/JPEG/BMP/
  * GIF, JDK-builtin, no external codec needed). Audio decode is REAL
  * too: RIFF/WAV header fields, the amplitude envelope, and true PCM
  * frame extraction (`decodeWav`/`wavFrames8`) are pure byte-read
  * expressions. Video decode is REAL for uncompressed RIFF/AVI: the
  * container walk (`aviFrameIndex`) locates every `00db`/`00dc` DIB
  * frame and `aviFrames` emits exact per-frame statistics;
  * `sampleFrames` remains only as the generic unknown-codec fallback.
  *
  * Scale notes: binary payloads dominate row size, so operators here
  * repartition by byte budget, not row count
  * (`spark.sql.files.maxPartitionBytes` governs the scan; the explicit
  * `repartitionByBytes` helper governs post-decode stages).
  */
object Multimodal {

  /** Attach a metadata struct derived from the payload envelope. */
  def withMediaMeta(df: DataFrame, binCol: String, mime: String): DataFrame =
    df.withColumn("media_meta", struct(
      lit(mime).as("mime"),
      length(col(binCol)).cast("long").as("byte_len"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      lit(null).cast(LongType).as("duration_ms")))

  // ------------------------------------------------- real header decode

  /** PNG: 8-byte signature, then the IHDR chunk fixed at the front —
    * width is the 4-byte big-endian int at offset 16, height at 20
    * (PNG spec §5.2/§11.2.2). Pure codegen'd column expressions
    * (hex/substring/conv), no UDF: header decode runs at scan speed.
    */
  val PngMagicHex: String = "89504E470D0A1A0A"

  def isPng(bin: Column): Column =
    length(bin) >= 24 && hex(substring(bin, 1, 8)) === lit(PngMagicHex)

  def pngWidth(bin: Column): Column =
    conv(hex(substring(bin, 17, 4)), 16, 10).cast("long")

  def pngHeight(bin: Column): Column =
    conv(hex(substring(bin, 21, 4)), 16, 10).cast("long")

  /** JPEG: walk the marker segments for a start-of-frame (SOF0-15,
    * minus the non-frame C4/C8/CC) and read height/width from its
    * header (JPEG/JFIF B.2.2). Markers are positional, so this is a
    * scan loop — a (deterministic, null-safe) UDF is the honest tool.
    */
  def jpegDimensions(b: Array[Byte]): Option[(Int, Int)] = {
    if (b == null || b.length < 4 ||
      (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None
      val marker = b(i + 1) & 0xff
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) i += 2 // standalone
      else {
        val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
        if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
          if (i + 8 >= b.length) return None
          val h = ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)
          val w = ((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff)
          return Some((w, h))
        }
        i += 2 + len
      }
    }
    None
  }

  private val jpegDimsUdf = udf((b: Array[Byte]) => jpegDimensions(b))

  /** Real header decode: PNG through native expressions, JPEG through
    * the marker-walk UDF, anything else null dimensions. One narrow
    * projection, no shuffle. (Full pixel decode — channels, intensity
    * — is `decodePixels` below; this header path stays expression-only
    * so dimension profiling never pays a per-row decoder.)
    */
  def decodeDims(df: DataFrame, binCol: String): DataFrame = {
    val b = col(binCol)
    val jpeg = jpegDimsUdf(b)
    df.withColumn("img_format",
        when(isPng(b), lit("png"))
          .when(jpeg.isNotNull, lit("jpeg"))
          .otherwise(lit(null).cast(StringType)))
      .withColumn("img_width",
        when(isPng(b), pngWidth(b)).otherwise(jpeg.getField("_1").cast("long")))
      .withColumn("img_height",
        when(isPng(b), pngHeight(b)).otherwise(jpeg.getField("_2").cast("long")))
  }

  // --- shared decoder plumbing -------------------------------------
  // ImageIO.setUseCache is a static write (executors would otherwise
  // spill a temp file per decoded blob). It must run ONCE per JVM, not
  // once per row: a per-row static write is a needless cross-core
  // store, and at 32 concurrent tasks it showed up in the 10× scale
  // leg. `lazy val` gives us the once-per-JVM init on first decode.
  private lazy val imageIoInit: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Sniff the container format from magic bytes — lets the hot path
    * skip `ImageIO.read`'s per-call walk of the synchronized SPI
    * registry (a real lock at 32 concurrent decode tasks) and go
    * straight to a cached reader. Unknown magics fall back to the
    * generic registry path.
    */
  private def sniffImageFormat(b: Array[Byte]): String =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 2 && b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F') "gif"
    else null

  /** Per-thread resolved `ImageReader` cache, keyed by sniffed format.
    * `ImageReader` instances are stateful and not thread-safe, so the
    * cache is a ThreadLocal; task threads are pooled, so each executor
    * thread resolves each format's reader exactly once for the life of
    * the JVM (bounded: ≤4 formats × pool size).
    */
  private val readerCache =
    new ThreadLocal[scala.collection.mutable.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue() =
        scala.collection.mutable.HashMap.empty[String, javax.imageio.ImageReader]
    }

  /** Decode a payload to a BufferedImage, or null for anything
    * non-decodable. Known formats reuse a per-thread reader over an
    * in-memory stream (no SPI walk, no temp files); unknown formats
    * take the generic `ImageIO.read` path.
    */
  private def decodeBuffered(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    imageIoInit
    try {
      val fmt = sniffImageFormat(bytes)
      val cached =
        if (fmt == null) null
        else readerCache.get().getOrElseUpdate(fmt, {
          val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
          if (it.hasNext) it.next() else null
        })
      if (cached == null)
        javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      else {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          cached.setInput(iis, true, true)
          cached.read(0)
        } finally {
          cached.setInput(null)
          iis.close()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** REAL pixel decode via `javax.imageio` (ships with the JDK — PNG,
    * JPEG, BMP, GIF, WBMP): emits (width, height, channels,
    * mean intensity over every band of every pixel). Non-decodable or
    * empty payloads return the (0, 0, 0, 0.0) null-object shape rather
    * than crashing a 100 TB job on one corrupt blob. The pixel sum
    * accumulates in a Long and divides once, so the mean is
    * order-independent and bit-stable across partitionings.
    */
  val decodePixels: Array[Byte] => (Int, Int, Int, Double) = bytes => {
    if (bytes == null || bytes.isEmpty) (0, 0, 0, 0.0)
    else {
      val img = decodeBuffered(bytes)
      if (img == null) (0, 0, 0, 0.0)
      else {
        val raster = img.getRaster
        val w = img.getWidth
        val h = img.getHeight
        val c = raster.getNumBands
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < c) { sum += raster.getSample(x, y, b); b += 1 }
            x += 1
          }
          y += 1
        }
        (w, h, c, sum.toDouble / (w.toLong * h * c))
      }
    }
  }

  private val decodeUdf = udf((bytes: Array[Byte]) => decodePixels(bytes))

  /** Decode stage: one narrow transformation, no shuffle. Output adds
    * `decoded` struct (_1..._4 = width, height, channels, mean
    * intensity).
    */
  def decodeImages(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("decoded", decodeUdf(col(binCol)))
      .withColumn("img_width", col("decoded._1"))
      .withColumn("img_height", col("decoded._2"))
      .withColumn("img_channels", col("decoded._3"))
      .withColumn("img_score", col("decoded._4"))
      .drop("decoded")

  /** REAL nearest-neighbor image resize: `javax.imageio` decode
    * (PNG/JPEG/BMP/GIF), then pure integer index mapping on the
    * top-down image grid — output pixel (x, y) samples source pixel
    * (x·sw div dw, y·sh div dh). Returns (out_w, out_h, total, tl, br):
    * the exact integer sum of R+G+B over every output pixel, plus the
    * top-left and bottom-right samples as positional witnesses (a mean
    * alone could survive a permuted sample set; corners cannot survive
    * shifted index math).
    *
    * NN is the one resampling kernel whose arithmetic is engine-exact
    * (integer division, integer byte sums — no float filter weights),
    * which is what makes a resize oracle-checkable; smoother kernels
    * share this plumbing. Sums are over R+G+B, so the check is
    * independent of the decoder's channel order. Non-decodable
    * payloads return the (0, 0, 0, 0, 0) null-object shape.
    */
  def resizeSamples(bytes: Array[Byte], dw: Int, dh: Int): (Int, Int, Long, Long, Long) = {
    require(dw > 0 && dh > 0)
    if (bytes == null || bytes.isEmpty) (0, 0, 0L, 0L, 0L)
    else {
      val img = decodeBuffered(bytes)
      if (img == null) (0, 0, 0L, 0L, 0L)
      else try {
        val sw = img.getWidth
        val sh = img.getHeight
        // Fetch each needed SOURCE row once via the bulk getRGB —
        // per-pixel getRGB pays a color-model conversion call per
        // sample, and consecutive output rows usually map to the same
        // source row when downscaling.
        val rowBuf = new Array[Int](sw)
        var bufSy = -1
        var total = 0L
        var tl = 0L
        var br = 0L
        var y = 0
        while (y < dh) {
          // index math in Long: Int y*sh can overflow to a negative
          // index on very large decoded dimensions
          val sy = (y.toLong * sh / dh).toInt
          if (sy != bufSy) { img.getRGB(0, sy, sw, 1, rowBuf, 0, sw); bufSy = sy }
          var x = 0
          while (x < dw) {
            val sx = (x.toLong * sw / dw).toInt
            val rgb = rowBuf(sx)
            val s = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
              (rgb & 0xff)).toLong
            total += s
            if (x == 0 && y == 0) tl = s
            if (x == dw - 1 && y == dh - 1) br = s
            x += 1
          }
          y += 1
        }
        (dw, dh, total, tl, br)
      } catch {
        // the module contract: untrusted payloads decode to the
        // null-object shape, never throw — the sampling loop is part
        // of decode for that purpose
        case scala.util.control.NonFatal(_) => (0, 0, 0L, 0L, 0L)
      }
    }
  }

  private val resizeUdf =
    udf((b: Array[Byte], dw: Int, dh: Int) => resizeSamples(b, dw, dh))

  /** Resize stage: one narrow transformation, no shuffle. Adds
    * out_w/out_h, the exact `resized_mean` (single division of the
    * integer total — order-independent), and the corner witnesses;
    * non-images yield nulls.
    */
  def resizeImages(df: DataFrame, binCol: String, dw: Int, dh: Int): DataFrame = {
    val r = resizeUdf(col(binCol), lit(dw), lit(dh))
    val ok = col("__rz._1") > 0
    df.withColumn("__rz", r)
      .withColumn("out_w", when(ok, col("__rz._1")))
      .withColumn("out_h", when(ok, col("__rz._2")))
      .withColumn("resized_mean", when(ok,
        round(col("__rz._3").cast("double") / lit(3.0 * dw * dh), 6)))
      .withColumn("tl_sum", when(ok, col("__rz._4")))
      .withColumn("br_sum", when(ok, col("__rz._5")))
      .drop("__rz")
  }

  /** 64-bit difference hash (dHash — the standard perceptual
    * image-dedup fingerprint, e.g. Krawetz's public writeup and every
    * imagehash library): REAL `javax.imageio` decode, nearest-neighbor
    * sample onto a 9×8 brightness grid with the exact index mapping
    * [[resizeSamples]] uses (source = dest·src div dest per axis, long
    * math), then bit (y,x) = brightness(x+1,y) > brightness(x,y) —
    * row-major, 64 bits. Robust to resize/re-encode/brightness shifts
    * because only the SIGN of adjacent-sample differences survives
    * into the hash.
    *
    * Returned as a 64-char '0'/'1' string — the [[graft.ops.Dedup]]
    * simhash fingerprint representation, so the banded LSH machinery
    * (band keys, pigeonhole-exact candidate join, chunked-conv
    * Hamming verify) applies to images UNCHANGED. Null for anything
    * that does not decode (the module's null-object contract).
    */
  def dHash64(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return null
    val img = decodeBuffered(bytes)
    if (img == null) return null
    try {
      val sw = img.getWidth
      val sh = img.getHeight
      val rowBuf = new Array[Int](sw)
      var bufSy = -1
      val g = Array.ofDim[Long](8, 9)
      var y = 0
      while (y < 8) {
        val sy = (y.toLong * sh / 8).toInt
        if (sy != bufSy) { img.getRGB(0, sy, sw, 1, rowBuf, 0, sw); bufSy = sy }
        var x = 0
        while (x < 9) {
          val rgb = rowBuf((x.toLong * sw / 9).toInt)
          g(y)(x) = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
            (rgb & 0xff)).toLong
          x += 1
        }
        y += 1
      }
      val sb = new java.lang.StringBuilder(64)
      y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          sb.append(if (g(y)(x + 1) > g(y)(x)) '1' else '0')
          x += 1
        }
        y += 1
      }
      sb.toString
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  private val dHashUdf = udf((b: Array[Byte]) => dHash64(b))

  /** dHash stage: one narrow transformation, no shuffle — adds the
    * 64-bit fingerprint as `dhash` (null for non-images). */
  def imageDHash(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("dhash", dHashUdf(col(binCol)))

  /** Synthesize a 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up,
    * 4-byte row padding) filled with one BGR value — a fully valid image
    * whose pixel statistics are known arithmetically, used by tests to
    * pin `decodePixels` against ground truth without any codec library.
    */
  def syntheticBmp24(w: Int, h: Int, bgr: (Int, Int, Int)): Array[Byte] = {
    require(w > 0 && h > 0)
    val rowSize = (w * 3 + 3) / 4 * 4
    val fileSize = 54 + rowSize * h
    val out = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putInt(0).putInt(54)
    out.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowSize * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    (0 until h).foreach { _ =>
      (0 until w).foreach { _ =>
        out.put(bgr._1.toByte).put(bgr._2.toByte).put(bgr._3.toByte)
      }
      (w * 3 until rowSize).foreach(_ => out.put(0.toByte))
    }
    out.array()
  }

  // ------------------------------------------------- real audio decode

  /** Little-endian unsigned integer read: bytes `off..off+n-1`
    * (1-based) reversed into big-endian hex, then conv'd. Pure
    * codegen'd expressions — the audio analogue of the PNG path.
    */
  private def leUint(bin: Column, off: Int, n: Int): Column =
    conv(concat((0 until n).reverse.map(i => hex(substring(bin, off + i, 1))): _*),
      16, 10).cast("long")

  /** Canonical 44-byte RIFF/WAV header layout (RIFF spec / WAVE file
    * format: "RIFF" size "WAVE" + 16-byte PCM "fmt " chunk + "data"):
    * channels at offset 22 (LE16), sample rate at 24 (LE32), bits per
    * sample at 34 (LE16), data byte length at 40 (LE32), samples from
    * 44. Offsets below are 1-based (Spark substring convention).
    */
  val WavMagicRiffHex = "52494646" // "RIFF"
  val WavMagicWaveFmtHex = "57415645666D7420" // "WAVEfmt "
  val WavMagicDataHex = "64617461" // "data"

  /** The fixed-offset field reads below are only valid for the
    * CANONICAL layout, so the guard pins it fully: a 16-byte PCM
    * "fmt " chunk (size field == 16 at offset 17) immediately followed
    * by the "data" chunk (fourcc at offset 37). Extensible-fmt or
    * LIST/INFO-prefixed WAVs fail the guard and decode to null instead
    * of silently reading garbage at the canonical offsets.
    */
  def isWav(bin: Column): Column =
    length(bin) >= 44 && hex(substring(bin, 1, 4)) === lit(WavMagicRiffHex) &&
      hex(substring(bin, 9, 8)) === lit(WavMagicWaveFmtHex) &&
      leUint(bin, 17, 4) === lit(16L) &&
      hex(substring(bin, 37, 4)) === lit(WavMagicDataHex)

  def wavChannels(bin: Column): Column = leUint(bin, 23, 2)
  def wavSampleRate(bin: Column): Column = leUint(bin, 25, 4)
  def wavBitsPerSample(bin: Column): Column = leUint(bin, 35, 2)
  def wavDataLen(bin: Column): Column = leUint(bin, 41, 4)

  // integer `div`, not `/`: Spark's Divide on longs returns DOUBLE, and
  // floor(double quotient) can mis-round near integers — `div` keeps
  // the arithmetic exact on any engine (`//` in the oracle)
  def wavNumSamples(bin: Column): Column =
    call_function("div", wavDataLen(bin) * 8L,
      wavChannels(bin) * wavBitsPerSample(bin))

  def wavDurationMs(bin: Column): Column =
    call_function("div", wavNumSamples(bin) * 1000L, wavSampleRate(bin))

  /** Mean unsigned-8-bit amplitude over the data chunk: exact integer
    * byte sum divided once — order-independent, so the double is the
    * correctly-rounded quotient on any engine. The sum is the native
    * codegen'd `vec.byteSumRange` (value-identical to the
    * `aggregate(sequence(...))` fold it replaced, VecExprSpec pins it)
    * so envelope extraction stays inside whole-stage codegen at any
    * corpus size.
    */
  def wavMeanAmplitude8(bin: Column): Column = {
    val n = wavDataLen(bin)
    val byteSum = graft.functions.vec.byteSumRange(bin, lit(44L), n)
    when(n > 0, round(byteSum.cast("double") / n.cast("double"), 6))
      .otherwise(lit(0.0))
  }

  /** 64-bit audio ENERGY HASH over the canonical 8-bit PCM WAV layout
    * — the 1-D analogue of [[dHash64]] (Haitsma–Kalker-style
    * sign-of-adjacent-energy-difference fingerprinting, collapsed to
    * one band): slice the data chunk into 65 contiguous windows
    * (boundaries = data_len·w div 65, the resize index mapping in
    * 1-D), bit w = mean(window w+1) > mean(window w), compared as
    * exact cross-multiplied integer sums so unequal window lengths
    * never need a float division. Robust to gain changes that
    * preserve the envelope's shape ordering and to container
    * re-muxing; returned in the simhash bit-string form so the banded
    * dedup machinery applies to audio UNCHANGED.
    *
    * Unlike the image path this is a PURE native expression — ONE
    * codegen'd [[graft.functions.vec.energyHashBits]] kernel pass
    * over the data chunk, zero UDF, zero shuffle. (The first cut
    * composed 130 byteSumRange expressions; the tree was too large
    * for codegen and evaluated interpreted at ~2 ms/row — the fused
    * kernel is that hash as one call, OpsSpec pins it against the
    * hand-computed bits.) Null for anything that fails the
    * canonical-WAV guard or has an empty data chunk.
    */
  def wavEnergyHash64(bin: Column): Column =
    when(isWav(bin) && wavDataLen(bin) >= 1,
      graft.functions.vec.energyHashBits(bin, lit(44L), wavDataLen(bin),
        windows = 65))

  /** Real audio header decode over a WAV binary column: format fields,
    * sample/duration arithmetic, and the 8-bit mean-amplitude envelope.
    * One narrow projection, no shuffle, expression-only (scan speed).
    */
  def decodeWav(df: DataFrame, binCol: String): DataFrame = {
    val b = col(binCol)
    val ok = isWav(b)
    def f(c: Column) = when(ok, c)
    df.withColumn("wav_channels", f(wavChannels(b)))
      .withColumn("wav_sample_rate", f(wavSampleRate(b)))
      .withColumn("wav_bits", f(wavBitsPerSample(b)))
      .withColumn("wav_n_samples", f(wavNumSamples(b)))
      .withColumn("wav_duration_ms", f(wavDurationMs(b)))
      .withColumn("wav_mean_amp", f(wavMeanAmplitude8(b)))
  }

  /** Synthesize a canonical 8-bit PCM mono WAV via ByteBuffer — the
    * independent encoder tests pin `decodeWav`'s expression path
    * against (mirrors `syntheticBmp24`'s role for images).
    */
  def syntheticWav8(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    require(sampleRate > 0 && samples.nonEmpty)
    val n = samples.length
    val out = java.nio.ByteBuffer.allocate(44 + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate) // byte rate = rate * channels * bits/8
      .putShort(1) // block align
      .putShort(8) // bits per sample
    out.put("data".getBytes("US-ASCII")).putInt(n)
    samples.foreach(s => out.put((s & 0xff).toByte))
    out.array()
  }

  /** REAL audio frame extraction: explode an 8-bit PCM WAV into fixed
    * `frameSamples`-sample frames (hop = frame length, trailing partial
    * frame dropped — standard framing) with each frame's exact mean
    * amplitude. PCM is uncompressed, so this is a true decode: the
    * frame values ARE the codec output, not a stand-in. One row per
    * frame, no shuffle; per-frame work is O(frameSamples) byte slices
    * on the payload attribute.
    */
  def wavFrames8(df: DataFrame, binCol: String, frameSamples: Int): DataFrame = {
    require(frameSamples > 0)
    val b = col(binCol)
    val nFrames = call_function("div", wavNumSamples(b), lit(frameSamples.toLong))
    df.withColumn("frame_idx", explode(
        when(isWav(b) && nFrames > 0, sequence(lit(0L), nFrames - 1))
          .otherwise(array().cast("array<bigint>"))))
      .withColumn("frame_mean_amp", {
        val start = lit(44L) + col("frame_idx") * frameSamples
        val s = graft.functions.vec.byteSumRange(b, start, lit(frameSamples.toLong))
        round(s.cast("double") / frameSamples, 6)
      })
  }

  // ------------------------------------------------- real video decode

  /** RIFF/AVI container walk: top-level chunks after "RIFF size AVI ",
    * the `hdrl` LIST's `avih` main header for dimensions (dwWidth at
    * byte 32, dwHeight at 36 of the avih payload — OpenDML/AVI spec),
    * and every `00db`/`00dc` frame chunk inside the `movi` LIST as
    * (offset, length) into the original payload. Chunk sizes are
    * little-endian and odd sizes pad to even, per RIFF. A positional
    * walk over variable-length chunks, so — like the JPEG marker
    * walk — a deterministic, null-safe UDF is the honest tool; the
    * per-frame PIXEL work stays in expressions.
    */
  def aviFrameIndex(b: Array[Byte]): Option[(Int, Int, Seq[(Int, Int)])] = {
    if (b == null || b.length < 12) return None
    def fourcc(i: Int): String =
      if (i + 4 > b.length) ""
      else new String(b.slice(i, i + 4), "US-ASCII")
    // Out-of-bounds reads yield Int.MinValue, which every size check
    // below treats as invalid (`size < 0` / `>= 40` guards) — a
    // truncated or crafted payload must decode to None, never throw,
    // because these run over untrusted corpus binaries.
    def le32(i: Int): Int =
      if (i < 0 || i + 4 > b.length) Int.MinValue
      else (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    var w = 0
    var h = 0
    val frames = Seq.newBuilder[(Int, Int)]
    var i = 12
    val end = math.min(b.length, 8 + le32(4))
    while (i + 8 <= end) {
      val id = fourcc(i)
      val size = le32(i + 4)
      if (size < 0 || i + 8 + size > end) return None
      if (id == "LIST" && size >= 4) {
        fourcc(i + 8) match {
          case "hdrl" =>
            // first subchunk must be avih; dims at payload bytes 32/36.
            // The declared avih size is untrusted: the 40 bytes we read
            // must lie inside BOTH the hdrl LIST (i+8+size) and the
            // buffer before the dim reads are allowed.
            val avihSize = le32(i + 16)
            if (fourcc(i + 12) == "avih" && avihSize >= 40 &&
                i + 20 + 40 <= math.min(i + 8 + size, b.length)) {
              w = le32(i + 20 + 32)
              h = le32(i + 20 + 36)
            }
          case "movi" =>
            var j = i + 12
            val listEnd = i + 8 + size
            while (j + 8 <= listEnd) {
              val fid = fourcc(j)
              val fsize = le32(j + 4)
              if (fsize < 0 || j + 8 + fsize > listEnd) return None
              if (fid == "00db" || fid == "00dc")
                frames += ((j + 8, fsize))
              j += 8 + fsize + (fsize & 1) // RIFF even-byte padding
            }
          case _ => ()
        }
      }
      i += 8 + size + (size & 1)
    }
    val fs = frames.result()
    if (fs.isEmpty) None else Some((w, h, fs))
  }

  private val aviIndexUdf = udf((b: Array[Byte]) => aviFrameIndex(b))

  /** REAL video frame extraction for uncompressed (DIB `00db`) AVI:
    * one row per frame with the container dimensions and the frame's
    * exact mean byte intensity — the chunk walk locates each frame,
    * and the per-frame decode is an expression fold over the frame's
    * own bytes (every byte read, order-independent integer sum).
    * Compressed codecs would slot in at `frame_bytes`; none ship in
    * this environment.
    */
  /** Per-frame EXACT energies over an uncompressed AVI: one row per
    * `00db` frame with the frame's integer byte sum and byte length —
    * the unrounded feed for the temporal-envelope hash
    * ([[Dedup.videoTemporalHashPairs]]); [[aviFrames]]'s rounded
    * per-frame means are the human-facing decode, this is the
    * fingerprint arithmetic. Same container walk, same byteSumRange
    * kernel; non-AVIs produce no rows.
    */
  def aviFrameEnergies(df: DataFrame, binCol: String,
      idCol: String): DataFrame = {
    val b = col(binCol)
    df.select(col(idCol).as("id"), b.as("__bin"))
      .withColumn("__avi", aviIndexUdf(col("__bin")))
      .select(col("id"), col("__bin"),
        posexplode_outer(col("__avi._3")).as(Seq("frame_idx", "__f")))
      .where(col("__f").isNotNull)
      .select(col("id"), col("frame_idx"),
        graft.functions.vec.byteSumRange(col("__bin"),
          col("__f._1").cast("long"), col("__f._2").cast("long"))
          .as("fsum"),
        col("__f._2").cast("long").as("flen"))
  }

  def aviFrames(df: DataFrame, binCol: String): DataFrame = {
    val b = col(binCol)
    val idx = aviIndexUdf(b)
    val withFrames = df.withColumn("__avi", idx)
      .withColumn("frame_w", col("__avi._1"))
      .withColumn("frame_h", col("__avi._2"))
      .select(col("*"), posexplode_outer(col("__avi._3")).as(Seq("frame_idx", "__f")))
      .where(col("__f").isNotNull)
    val off = col("__f._1")
    val len = col("__f._2")
    val byteSum = graft.functions.vec.byteSumRange(b, off, len)
    withFrames
      .withColumn("frame_mean",
        when(len > 0, round(byteSum.cast("double") / len.cast("double"), 6))
          .otherwise(lit(0.0)))
      .drop("__avi", "__f")
  }

  /** Synthesize a minimal uncompressed AVI (RIFF "AVI ", hdrl/avih
    * with dims, movi of solid-BGR `00db` DIB frames) via ByteBuffer —
    * the independent encoder for [[aviFrames]] tests.
    */
  def syntheticAvi(w: Int, h: Int, frames: Seq[(Int, Int, Int)]): Array[Byte] = {
    require(w > 0 && h > 0 && frames.nonEmpty && w * 3 % 4 == 0,
      "width must keep rows 4-byte aligned (w multiple of 4)")
    val frameSize = w * 3 * h
    val moviSize = 4 + frames.size * (8 + frameSize)
    val hdrlSize = 4 + 8 + 56
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val out = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String) = out.put(s.getBytes("US-ASCII"))
    cc("RIFF"); out.putInt(riffSize); cc("AVI ")
    cc("LIST"); out.putInt(hdrlSize); cc("hdrl")
    cc("avih"); out.putInt(56)
    out.putInt(33333).putInt(0).putInt(0).putInt(0) // usec/frame, bps, pad, flags
    out.putInt(frames.size).putInt(0).putInt(1).putInt(0) // total, initial, streams, bufsize
    out.putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0) // dims + reserved
    cc("LIST"); out.putInt(moviSize); cc("movi")
    frames.foreach { case (bB, bG, bR) =>
      cc("00db"); out.putInt(frameSize)
      (0 until w * h).foreach { _ =>
        out.put(bB.toByte).put(bG.toByte).put(bR.toByte)
      }
    }
    out.array()
  }

  /** Frame sampling for video-like payloads: split the byte stream
    * into `n` stride-sampled chunks — the generic fallback for codecs
    * with no in-environment decoder. REAL paths: [[wavFrames8]] for
    * audio PCM, [[aviFrames]] for uncompressed RIFF/AVI video.
    */
  def sampleFrames(df: DataFrame, binCol: String, n: Int): DataFrame = {
    df.withColumn("frame_idx", explode(sequence(lit(0), lit(n - 1))))
      .withColumn("frame_bytes",
        expr(s"substring($binCol, frame_idx * (length($binCol) div $n) + 1, " +
          s"length($binCol) div $n)"))
      .drop(binCol)
  }

  /** Repartition so each task holds ≈ `targetBytes` of payload —
    * binary workloads must balance by bytes, not rows.
    */
  def repartitionByBytes(df: DataFrame, binCol: String, targetBytes: Long): DataFrame = {
    val stats = df.select(sum(length(col(binCol))).cast("long")).first()
    val total = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val parts = math.max(1, (total / math.max(1L, targetBytes)).toInt)
    df.repartition(parts)
  }
}
