package graft.operators

import javax.imageio.{ImageIO, ImageReader}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads are opaque `binary` columns
  * with typed metadata, processed batch-wise with `mapPartitions` (the
  * Scala analogue of `mapInPandas` — one iterator per partition, so codec
  * init amortizes per partition, not per row).
  *
  * The decode step is REAL: payloads are valid 24-bit BMP images (the test
  * corpus synthesizes them deterministically from the text column — width,
  * height, and pixels all derive from sha256(text)) and [[decodeMeta]]
  * decodes them with `javax.imageio` (pure-JDK BMP reader) — an actual
  * codec pass over actual image bytes, not a stub. The driver oracle
  * cross-checks by predicting byte length, header bytes, and dimensions
  * from the same sha256 derivation in SQL: if either the encoder or the
  * decoder mis-handled the format, the two sides diverge.
  */
object Multimodal {

  /** Typed metadata extracted from a media payload. */
  final case class MediaMeta(
      doc_id: Long,
      byte_len: Long,
      header_hex: String,
      width: Int,
      height: Int,
      n_frames: Int)

  /** Deterministic payload dimensions from a content hash: two hex-pair
    * buckets of sha256(text), each mapped to [1, 32]. The SQL twin
    * ([[dimsSqlDuck]]) predicts the same values — the cross-engine check
    * that makes the decode oracle-able.
    */
  def widthCol(text: Column): Column =
    (conv(substring(sha2(text.cast("string"), 256), 1, 2), 16, 10)
      .cast("int") % 32) + 1

  def heightCol(text: Column): Column =
    (conv(substring(sha2(text.cast("string"), 256), 3, 2), 16, 10)
      .cast("int") % 32) + 1

  private def hexPairSqlDuck(col: String, pos: Int): String =
    s"((strpos('0123456789abcdef', substr(sha256(CAST($col AS VARCHAR)), $pos, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substr(sha256(CAST($col AS VARCHAR)), ${pos + 1}, 1)) - 1))"

  def dimsSqlDuck(col: String): (String, String) =
    (s"(${hexPairSqlDuck(col, 1)} % 32 + 1)", s"(${hexPairSqlDuck(col, 3)} % 32 + 1)")

  /** Minimal valid 24-bpp BMP (BITMAPINFOHEADER): 54-byte header + padded
    * pixel rows. Pixel bytes are filled from `seed` cyclically — content
    * is irrelevant to the metadata contract, validity to ImageIO is not.
    */
  def encodeBmpScalar(w: Int, h: Int, seed: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](54 + ((w * 3 + 3) / 4) * 4 * h)
    writeBmpHeader(out, w, h)
    var i = 54
    while (i < out.length) {
      out(i) = if (seed.nonEmpty) seed((i - 54) % seed.length) else 0
      i += 1
    }
    out
  }

  /** The 54-byte header of [[encodeBmpScalar]]'s layout, file size taken
    * from `out.length`.
    */
  private def writeBmpHeader(out: Array[Byte], w: Int, h: Int): Unit = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    def le32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
      out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
    out(0) = 'B'; out(1) = 'M'
    le32(2, out.length)
    le32(10, 54); le32(14, 40); le32(18, w); le32(22, h)
    out(26) = 1; out(28) = 24
    le32(34, rowSize * h)
  }

  private val encodeBmpUdf =
    udf((text: String, w: Int, h: Int) =>
      encodeBmpScalar(w, h,
        Option(text).getOrElse("").getBytes("UTF-8")))

  /** Attach a real BMP `payload` column synthesized deterministically from
    * the text column (media bytes stand-in for the test corpus).
    */
  def withBmpPayload(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("payload",
      encodeBmpUdf(col(textCol), widthCol(col(textCol)), heightCol(col(textCol))))

  /** Wrap a partition iterator so `cleanup` runs exactly once — releases
    * each partition's reusable ImageReader/ImageWriter native resources
    * instead of leaving them to finalization. Exhaustion alone is NOT a
    * sufficient trigger: a downstream `limit`/`take` stops pulling before
    * `hasNext` ever returns false, so the cleanup is ALSO registered as a
    * task-completion listener (fires on normal completion, early
    * termination, and failure alike); the exhaustion arm merely releases
    * the resource as early as possible on full drains.
    */
  private def onExhaustion[T](it: Iterator[T])(cleanup: => Unit): Iterator[T] = {
    var cleaned = false
    def clean(): Unit = if (!cleaned) { cleaned = true; cleanup }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => clean()))
    new Iterator[T] {
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) clean()
        h
      }
      override def next(): T = it.next()
    }
  }

  /** `decode` over every (doc_id, payload) row of `df`: one `format`
    * ImageReader per partition (iterator-in / iterator-out, the
    * mapInPandas batch shape), set on each payload's ImageInputStream,
    * which is closed even when the decode throws.
    */
  private def decodeEach[T: Encoder](spark: SparkSession, df: DataFrame,
      format: String)(decode: (Long, Array[Byte], ImageReader) => T)
      : Dataset[T] = {
    import spark.implicits._
    df.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val reader = ImageIO.getImageReadersByFormatName(format).next()
        onExhaustion(it.map { case (id, bytes) =>
          val iis = ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis)
            decode(id, bytes, reader)
          } finally iis.close()
        })(reader.dispose())
      }
  }

  /** Batch decode with `javax.imageio` ([[decodeEach]]). Input must carry
    * (doc_id:long, payload:binary).
    */
  def decodeMeta(spark: SparkSession, df: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    decodeEach(spark, df, "bmp") { (id, bytes, reader) =>
      val nFrames = reader.getNumImages(true)
      val img = reader.read(0)
      val hdr = bytes.take(8).map("%02x".format(_)).mkString
      MediaMeta(id, bytes.length.toLong, hdr, img.getWidth, img.getHeight,
        nFrames)
    }
  }

  // ---- image resize (decode -> nearest-neighbor downsample -> re-encode) --

  final case class ResizedMeta(doc_id: Long, width: Int, height: Int,
      out_width: Int, out_height: Int, out_len: Long)

  /** Re-encode a BufferedImage in the same minimal 24-bpp BMP layout as
    * [[encodeBmpScalar]] (bottom-up BGR rows, 4-byte row padding) — the
    * output byte length is exactly `54 + rowSize(w) * h`, which is what
    * makes the resize oracle-able.
    */
  def encodeBmpFromImage(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = img.getWidth
    val h = img.getHeight
    val rowSize = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](54 + rowSize * h)
    writeBmpHeader(out, w, h)
    // TYPE_3BYTE_BGR's raster byte order is [B, G, R] per pixel — the BMP
    // pixel order — so a canonical-stride raster encodes by plain row
    // copies (reversed: BMP rows are bottom-up); per-pixel getRGB pays a
    // color-model conversion per call (BENCH.md §18) and remains only as
    // the fallback for other layouts.
    img.getRaster.getDataBuffer match {
      case b: java.awt.image.DataBufferByte
          if img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR &&
            b.getData.length == w * h * 3 =>
        val data = b.getData
        var y = 0
        while (y < h) {
          System.arraycopy(data, y * w * 3, out, 54 + (h - 1 - y) * rowSize, w * 3)
          y += 1
        }
      case _ =>
        var y = 0
        while (y < h) {
          val off = 54 + (h - 1 - y) * rowSize
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            out(off + x * 3) = (rgb & 0xff).toByte
            out(off + x * 3 + 1) = ((rgb >> 8) & 0xff).toByte
            out(off + x * 3 + 2) = ((rgb >> 16) & 0xff).toByte
            x += 1
          }
          y += 1
        }
    }
    out
  }

  /** Half-size nearest-neighbor resize over BMP payloads: REAL javax.imageio
    * decode, explicit NN sampling (pixel (x, y) <- source (2x, 2y) —
    * deterministic, unlike Graphics2D interpolation), re-encode in the
    * [[encodeBmpScalar]] layout. One reader per partition (mapInPandas
    * batch shape). Dims floor-halve with a 1-pixel minimum.
    */
  def resizeHalf(spark: SparkSession, df: DataFrame): Dataset[ResizedMeta] = {
    import spark.implicits._
    decodeEach(spark, df, "bmp") { (id, _, reader) =>
      val img = reader.read(0)
      val w = img.getWidth
      val w2 = math.max(1, img.getWidth / 2)
      val h2 = math.max(1, img.getHeight / 2)
      val scaled = new java.awt.image.BufferedImage(w2, h2,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      // NN sample (x, y) <- (2x, 2y): when both rasters are canonical
      // 3-byte BGR, move the 3 pixel bytes directly — same values as
      // the setRGB/getRGB pair, minus two color-model conversions per
      // pixel (BENCH.md §18); fallback for other source layouts.
      (img.getRaster.getDataBuffer, scaled.getRaster.getDataBuffer) match {
        case (sb: java.awt.image.DataBufferByte,
            db: java.awt.image.DataBufferByte)
            if img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR &&
              sb.getData.length == w * img.getHeight * 3 =>
          val src = sb.getData
          val dst = db.getData
          var y = 0
          while (y < h2) {
            var x = 0
            while (x < w2) {
              val s = (y * 2 * w + x * 2) * 3
              val d = (y * w2 + x) * 3
              dst(d) = src(s); dst(d + 1) = src(s + 1); dst(d + 2) = src(s + 2)
              x += 1
            }
            y += 1
          }
        case _ =>
          var y = 0
          while (y < h2) {
            var x = 0
            while (x < w2) {
              scaled.setRGB(x, y, img.getRGB(x * 2, y * 2))
              x += 1
            }
            y += 1
          }
      }
      val outBytes = encodeBmpFromImage(scaled)
      ResizedMeta(id, img.getWidth, img.getHeight, w2, h2,
        outBytes.length.toLong)
    }
  }

  // ---- pixel-level feature extraction (decode -> channel-byte sum) --------

  final case class PixelStats(doc_id: Long, px_sum: Long, n_px: Long)

  /** BMP payload whose pixel bytes are seeded from the sha256 HEX STRING of
    * the text (ASCII '0'-'9'/'a'-'f') instead of the raw text bytes: hex
    * chars have SQL-computable byte values, which lets the oracle predict a
    * pixel-CONTENT feature (not just dims/lengths) and thereby verifies the
    * decode down to the pixel bytes in the driver gate.
    */
  def withBmpPayloadHexSeed(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("payload",
      udf((sha: String, w: Int, h: Int) =>
        encodeBmpScalar(w, h, sha.getBytes("US-ASCII")))
        .apply(sha2(col(textCol).cast("string"), 256),
          widthCol(col(textCol)), heightCol(col(textCol))))

  /** Feature-extract: decode the BMP (real codec) and sum every channel
    * byte over all pixels (plus the channel count). The oracle recomputes
    * the same sum from the seed arithmetic — byte i of the pixel-data
    * region is the hex char at position (i mod 64), skipping the row-pad
    * bytes the decoder never surfaces.
    */
  def pixelStats(spark: SparkSession, df: DataFrame): Dataset[PixelStats] = {
    import spark.implicits._
    decodeEach(spark, df, "bmp") { (id, _, reader) =>
      val img = reader.read(0)
      // channel-byte sum: when the reader hands back a 3-byte raster
      // (the JDK BMP reader's shape for 24-bpp), sum the backing array
      // directly — per-pixel getRGB pays a color-model conversion per
      // call (the same hot spot the GIF encoder had, BENCH.md §18);
      // any other layout falls back to the per-pixel path. Both sum
      // r+g+b per pixel, so the value is identical (oracle-pinned).
      var sum = 0L
      img.getRaster.getDataBuffer match {
        case b: java.awt.image.DataBufferByte
            if img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR &&
              b.getData.length == img.getWidth * img.getHeight * 3 =>
          val data = b.getData
          var i = 0
          while (i < data.length) { sum += data(i) & 0xff; i += 1 }
        case _ =>
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              sum += (rgb & 0xff) + ((rgb >> 8) & 0xff) + ((rgb >> 16) & 0xff)
              x += 1
            }
            y += 1
          }
      }
      PixelStats(id, sum, img.getWidth.toLong * img.getHeight * 3)
    }
  }

  /** DuckDB fragment: sum of the hex-seeded pixel-data bytes for a doc of
    * dims (wExpr, hExpr) — iterate the data region, skip row padding, map
    * each position to its seed hex char's ASCII value.
    */
  def pixelSumSqlDuck(textCol: String, wExpr: String, hExpr: String): String = {
    val sha = s"sha256(CAST($textCol AS VARCHAR))"
    val rowSize = s"((($wExpr) * 3 + 3) // 4) * 4"
    val d = s"(strpos('0123456789abcdef', substr($sha, CAST(i % 64 AS INT) + 1, 1)) - 1)"
    // DuckDB's range() table function rejects correlated column arguments
    // (no lateral binding) — iterate a CONSTANT bound (max data size at the
    // 32×32 dim cap: rowSize(32) * 32 = 3072) and bound the region in WHERE.
    s"(SELECT sum(CASE WHEN $d < 10 THEN 48 + $d ELSE 87 + $d END) " +
      s"FROM range(3072) t(i) " +
      s"WHERE i < ($rowSize) * ($hExpr) AND i % ($rowSize) < ($wExpr) * 3)"
  }

  // ---- video twin (multi-frame GIF / javax.imageio sequence writer) -------
  // A real multi-frame container standing in for video: frames are written
  // with ImageIO's GIF sequence writer and read back frame-by-frame. GIF's
  // LZW payload length is not SQL-predictable, so the oracle pins the frame
  // count, dimensions, and the temporal-subsample arithmetic — the decode
  // itself is a real codec pass.

  final case class VideoMeta(doc_id: Long, n_frames: Int, width: Int,
      height: Int, sampled_frames: Int)

  def videoFramesSqlDuck(col: String): String =
    s"(${hexPairSqlDuck(col, 11)} % 5 + 2)"

  /** 256-level grayscale palette shared by every synthesized GIF frame:
    * handing the writer an INDEXED raster skips its per-frame RGB→palette
    * quantization pass, which profiling showed was ~75% of the encode cost
    * (0.79 → 0.25 ms/payload single-threaded) — neither the writer
    * acquisition nor the pixel fill, both of which were hoisted first and
    * moved nothing.
    */
  private val gifPalette: java.awt.image.IndexColorModel = {
    val gray = Array.tabulate[Byte](256)(i => i.toByte)
    new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
  }

  /** Multi-frame GIF synthesized deterministically (`frames` frames of
    * w×h), encoded with a CALLER-OWNED (reusable) writer — `reset()` between
    * payloads restores the writer to its initial state, so one instance
    * serves a whole partition. Frame f's pixel (x, y) is palette index
    * seed[(f·w·h + y·w + x) mod len] — deterministic content, filled
    * directly into the raster's backing array.
    */
  def encodeGifWith(writer: javax.imageio.ImageWriter, w: Int, h: Int,
      frames: Int, seed: Array[Byte]): Array[Byte] = {
    writer.reset()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until frames).foreach { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, gifPalette)
      val data = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      var p = 0
      val n = w * h
      while (p < n) {
        data(p) = if (seed.nonEmpty) seed((f * n + p) % seed.length) else 0
        p += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  /** (doc_id, payload) with a real multi-frame GIF synthesized per row.
    * NOTE the narrowed output schema: unlike the `withColumn`-shaped
    * payload attachers above, this returns EXACTLY two columns
    * (doc_id, payload) — input columns are not passed through (join the
    * payload back on doc_id if you need them).
    * mapPartitions with ONE writer per partition — the round-2 per-row
    * `getImageWritersByFormatName` + `dispose` UDF was the single biggest
    * cost in `mm_video`; this is the same per-partition-init shape every
    * decoder in this file uses. Dim/frame derivations mirror [[widthCol]]/
    * [[heightCol]]/[[videoFramesSqlDuck]] exactly (hex pairs of
    * sha256(text)), so the SQL oracle's predictions are unchanged.
    */
  def withGifPayload(df: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col(textCol).cast("string").as("t"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("gif").next()
        onExhaustion(it.map { case (id, text) =>
          if (text == null) (id, null: Array[Byte])
          else {
            val sha = graft.functions.Text.sha256HexScalar(text)
            def hp(pos: Int): Int =
              Integer.parseInt(sha.substring(pos - 1, pos + 1), 16)
            (id, encodeGifWith(writer, hp(1) % 32 + 1, hp(3) % 32 + 1,
              hp(11) % 5 + 2, text.getBytes("UTF-8")))
          }
        })(writer.dispose())
      }.toDF("doc_id", "payload")
  }

  /** Decode the multi-frame payload (real GIF reader, one per partition)
    * and apply every-2nd-frame temporal subsampling: `sampled_frames`
    * counts the frames a stride-2 sampler would keep — the video analogue
    * of [[sampleFrames]].
    */
  def decodeVideoMeta(spark: SparkSession, df: DataFrame): Dataset[VideoMeta] = {
    import spark.implicits._
    decodeEach(spark, df, "gif") { (id, _, reader) =>
      val n = reader.getNumImages(true)
      // stride-2 temporal subsample: frames 0, 2, 4, ... (decode each
      // kept frame — a real per-frame codec pass, not arithmetic; the
      // dims come from the first kept frame's decode, so frame 0 is
      // read exactly once, not once for dims plus once in the loop)
      var w0, h0 = 0
      var kept = 0
      var f = 0
      while (f < n) {
        val img = reader.read(f)
        if (f == 0) { w0 = img.getWidth; h0 = img.getHeight }
        kept += 1
        f += 2
      }
      VideoMeta(id, n, w0, h0, kept)
    }
  }

  // ---- audio (WAV / javax.sound.sampled) -----------------------------------

  final case class AudioMeta(
      doc_id: Long,
      byte_len: Long,
      sample_rate: Int,
      channels: Int,
      n_frames: Long)

  val wavRates: Seq[Int] = Seq(8000, 16000, 22050, 44100)

  private def hexPair(text: Column, pos: Int): Column =
    conv(substring(sha2(text.cast("string"), 256), pos, 2), 16, 10).cast("int")

  def sampleRateCol(text: Column): Column =
    element_at(typedLit(wavRates), (hexPair(text, 5) % wavRates.length) + 1)

  def channelsCol(text: Column): Column = (hexPair(text, 7) % 2) + 1

  def framesCol(text: Column): Column = (hexPair(text, 9) % 400) + 100

  /** SQL twins of the three audio-dim derivations (DuckDB). */
  def audioDimsSqlDuck(col: String): (String, String, String) = {
    val rateCases = wavRates.zipWithIndex
      .map { case (r, i) => s"WHEN ${hexPairSqlDuck(col, 5)} % ${wavRates.length} = $i THEN $r" }
      .mkString("CASE ", " ", " END")
    (rateCases,
      s"(${hexPairSqlDuck(col, 7)} % 2 + 1)",
      s"(${hexPairSqlDuck(col, 9)} % 400 + 100)")
  }

  /** Minimal valid 16-bit PCM WAV (44-byte RIFF header + frames). Sample
    * bytes fill from `seed` cyclically — content irrelevant to the
    * metadata contract, validity to javax.sound is not.
    */
  def encodeWavScalar(rate: Int, channels: Int, frames: Int,
      seed: Array[Byte]): Array[Byte] = {
    val dataSize = frames * channels * 2
    val out = new Array[Byte](44 + dataSize)
    writeWavHeader(out, rate, channels)
    (0 until dataSize).foreach(i =>
      out(44 + i) = if (seed.nonEmpty) seed(i % seed.length) else 0)
    out
  }

  /** The 44-byte RIFF header of a 16-bit PCM WAV, data size taken from
    * `out.length`.
    */
  private def writeWavHeader(out: Array[Byte], rate: Int, channels: Int): Unit = {
    val dataSize = out.length - 44
    def ascii(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (b, i) => out(off + i) = b }
    def le32(off: Int, v: Int): Unit = (0 until 4).foreach(i =>
      out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
    def le16(off: Int, v: Int): Unit = (0 until 2).foreach(i =>
      out(off + i) = ((v >> (8 * i)) & 0xff).toByte)
    ascii(0, "RIFF"); le32(4, 36 + dataSize); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1) // PCM
    le16(22, channels); le32(24, rate)
    le32(28, rate * channels * 2) // byte rate
    le16(32, channels * 2) // block align
    le16(34, 16) // bits per sample
    ascii(36, "data"); le32(40, dataSize)
  }

  private val encodeWavUdf =
    udf((text: String, rate: Int, ch: Int, frames: Int) =>
      encodeWavScalar(rate, ch, frames,
        Option(text).getOrElse("").getBytes("UTF-8")))

  /** Attach a real WAV `payload` column synthesized deterministically from
    * the text column.
    */
  def withWavPayload(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("payload", encodeWavUdf(col(textCol),
      sampleRateCol(col(textCol)), channelsCol(col(textCol)),
      framesCol(col(textCol))))

  // ---- audio frame-sampling (decode -> every-k-th frame -> re-encode) -----

  final case class SampledAudioMeta(doc_id: Long, n_frames: Long,
      out_frames: Long, out_len: Long, sample_rate: Int)

  /** Re-encode raw 16-bit PCM as WAV (header identical to
    * [[encodeWavScalar]]'s) — output length is exactly `44 + pcm.length`.
    */
  def encodeWavFromPcm(rate: Int, channels: Int,
      pcm: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](44 + pcm.length)
    writeWavHeader(out, rate, channels)
    System.arraycopy(pcm, 0, out, 44, pcm.length)
    out
  }

  /** Stride-extract frames 0, k, 2k, ... from a decoded audio stream
    * WITHOUT materializing the full PCM: read one frame into the output,
    * then `skip` the next k-1. On a ByteArrayInputStream-backed stream
    * `skip` is pointer arithmetic, so this touches ~n/k of the payload
    * bytes where the readAllBytes formulation copied all n twice (full
    * PCM + stride copy) — the difference is what made `mm_audio_sample`
    * run ~1.5x `mm_audio` on this memory-bandwidth-bound box.
    */
  private[graft] def stridePcm(ais: javax.sound.sampled.AudioInputStream,
      frameSize: Int, n: Long, k: Int): Array[Byte] = {
    val outN = ((n + k - 1) / k).toInt
    val out = new Array[Byte](outN * frameSize)
    var f = 0
    while (f < outN) {
      var off = f * frameSize
      var need = frameSize
      while (need > 0) {
        val r = ais.read(out, off, need)
        require(r > 0, s"unexpected EOF reading frame ${f.toLong * k} of $n")
        off += r; need -= r
      }
      if (f < outN - 1) {
        var toSkip = (k - 1).toLong * frameSize
        while (toSkip > 0) {
          val s = ais.skip(toSkip)
          if (s > 0) toSkip -= s
          else {
            // skip made no progress (stream-implementation-dependent);
            // drain through a scratch buffer instead of spinning
            val buf = new Array[Byte](math.min(toSkip, 8192L).toInt)
            val r = ais.read(buf, 0, buf.length)
            require(r > 0, s"unexpected EOF skipping after frame ${f.toLong * k}")
            toSkip -= r
          }
        }
      }
      f += 1
    }
    out
  }

  /** Parity twin of [[stridePcm]] — the original full-materialization
    * formulation, kept for the randomized byte-equality spec. Edit both
    * together.
    */
  private[graft] def stridePcmViaReadAll(
      ais: javax.sound.sampled.AudioInputStream, frameSize: Int, n: Long,
      k: Int): Array[Byte] = {
    val pcm = ais.readAllBytes()
    val outN = ((n + k - 1) / k).toInt
    val sampled = new Array[Byte](outN * frameSize)
    var f = 0
    while (f < outN) {
      System.arraycopy(pcm, f * k * frameSize, sampled, f * frameSize,
        frameSize)
      f += 1
    }
    sampled
  }

  /** Every-k-th-frame sampling over WAV payloads: REAL javax.sound decode,
    * frame stride over the PCM bytes, re-encode at the same rate (the
    * temporal-subsample shape a video frame-sampler takes too). Output
    * frame count is `ceil(n / k)` — frames 0, k, 2k, ... are kept.
    */
  def sampleFrames(spark: SparkSession, df: DataFrame,
      k: Int = 4): Dataset[SampledAudioMeta] = {
    import spark.implicits._
    require(k >= 1, "stride must be >= 1")
    df.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = ais.getFormat
          val frameSize = fmt.getFrameSize
          val n = ais.getFrameLength
          val sampled = stridePcm(ais, frameSize, n, k)
          ais.close()
          val outBytes = encodeWavFromPcm(fmt.getSampleRate.toInt,
            fmt.getChannels, sampled)
          SampledAudioMeta(id, n, sampled.length.toLong / frameSize,
            outBytes.length.toLong, fmt.getSampleRate.toInt)
        }
      }
  }

  /** Batch audio decode with `javax.sound.sampled` (pure-JDK WAV reader):
    * iterator-in / iterator-out per partition.
    */
  def decodeAudioMeta(spark: SparkSession, df: DataFrame): Dataset[AudioMeta] = {
    import spark.implicits._
    df.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = ais.getFormat
          val meta = AudioMeta(id, bytes.length.toLong,
            fmt.getSampleRate.toInt, fmt.getChannels, ais.getFrameLength)
          ais.close()
          meta
        }
      }
  }
}
