package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * payloads plus typed metadata.
  *
  * The Spark-side plumbing — schema, partition-batched decode loop,
  * feature projection — is real and tested. Decode itself is REAL for
  * every container the JVM can parse without a native library:
  * RIFF/WAVE PCM16 via [[decodeWavPcm16]], Sun AU via [[decodeAuPcm16]],
  * PPM P6 via [[decodePpm]], 24-bit BMP via [[decodeBmp24]], and
  * PNG/JPEG/GIF via the JDK's bundled ImageIO readers
  * ([[decodeImageIo]] — headless-safe, the same `javax.imageio` the
  * PNG report sink already uses to WRITE), all dispatched by
  * [[RealFirstCodec]] with a container sniff. Only formats that
  * genuinely need a native codec (MP3, H.264 — no such libraries ship
  * in this environment) fall back to a deterministic byte-level STUB
  * behind the same seam. `decodeBatch`
  * is the single point to swap in a JNI/FFI decoder per executor;
  * everything around it (mapPartitions batching so the codec
  * amortizes per-partition init, repartition by asset so decode
  * parallelism is independent of file layout) is the shape a
  * production pipeline needs.
  */
object Multimodal {

  final case class MediaFeatures(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      // stubbed "decoded" features — deterministic functions of payload
      mean_byte: Double,
      byte_entropy: Double,
      frame_count: Int)

  /** The codec seam: a real decoder (JNI/FFI image/audio library)
    * drops in behind this trait without touching the plan.
    *
    * Lifecycle per PARTITION (not per row): `open()` once before the
    * first batch — native contexts, model weights, scratch buffers;
    * `close()` exactly once when the task ends, including failure and
    * early-termination paths (registered as a task-completion
    * listener, the only hook that survives a `limit` downstream).
    * `decodeBatch` receives at most `batchSize` assets at a time so a
    * vectorizing codec amortizes its per-call overhead — the same
    * batch shape `mapInPandas`/Arrow would hand a Python decoder. */
  /** Shared per-partition codec lifecycle: open once per task, decode
    * in batches, close on task completion. All concrete codec families
    * (media-stub, audio, unified-decode) specialize only the row/result
    * types and the per-asset `decode` — the loop that runs them is the
    * ONE [[runCodecLoop]]. */
  trait PartitionCodec[I, O] extends Serializable {
    def open(): Unit = ()
    def close(): Unit = ()
    def decodeBatch(batch: Seq[I]): Seq[O]
  }

  trait MediaCodec extends PartitionCodec[(Long, String, Array[Byte]), MediaFeatures] {
    override def decodeBatch(batch: Seq[(Long, String, Array[Byte])]): Seq[MediaFeatures] =
      batch.map { case (id, mt, bytes) => decode(id, mt, bytes) }
    def decode(assetId: Long, mediaType: String, payload: Array[Byte]): MediaFeatures
  }

  /** The in-repo deterministic stub codec for formats whose decode
    * genuinely needs a native library absent from this environment
    * (MP3, H.264): byte-level "features" standing in for decoded
    * pixels/samples. */
  object StubCodec extends MediaCodec {
    override def decode(assetId: Long, mediaType: String, payload: Array[Byte]): MediaFeatures =
      decodeStub(assetId, mediaType, payload)
  }

  /** STUB decode: deterministic features from raw bytes. A real
    * implementation decodes pixels/samples here; signature and batch
    * shape are what matter. */
  private[ext] def decodeStub(assetId: Long, mediaType: String, payload: Array[Byte]): MediaFeatures = {
    val n = if (payload == null) 0 else payload.length
    var sum = 0L
    val hist = new Array[Long](256)
    var i = 0
    while (i < n) {
      val b = payload(i) & 0xff
      sum += b
      hist(b) += 1
      i += 1
    }
    val mean = if (n > 0) sum.toDouble / n else 0.0
    var entropy = 0.0
    if (n > 0) {
      var j = 0
      while (j < 256) {
        if (hist(j) > 0) {
          val p = hist(j).toDouble / n
          entropy -= p * math.log(p) / math.log(2.0)
        }
        j += 1
      }
    }
    // "frame sampling": pretend fixed-size frames; video/audio stride differs
    val frameSize = mediaType match {
      case "video" => 4096
      case "audio" => 1024
      case _ => n.max(1)
    }
    MediaFeatures(assetId, mediaType, n.toLong, mean, entropy,
      if (n == 0) 0 else 1 + (n - 1) / frameSize)
  }

  /** Decode/feature-extract over partition-batched rows. Repartitions
    * by asset_id so decode work spreads across executors regardless of
    * how few input files there are (binary blobs make row-group
    * boundaries coarse).
    *
    * The codec is created PER TASK via `codecFactory` — concurrent
    * tasks in one executor JVM must not share a codec instance, or one
    * task's completion listener would close() the native context other
    * tasks are still decoding with. Each task's instance is opened
    * before its first batch, fed `batchSize`-asset batches, and closed
    * on task completion (success, failure, or early termination
    * alike). Stateless codecs (like [[StubCodec]]) may safely return a
    * shared singleton from the factory. */
  def extractFeatures(
      assets: DataFrame,
      codecFactory: () => MediaCodec = () => StubCodec,
      parallelism: Int = 0,
      batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    runCodecLoop(
      typedAssets[(Long, String, Array[Byte])](assets, parallelism,
        col("asset_id"), col("media_type"), col("payload")),
      codecFactory, batchSize)
  }

  /** The shared select → repartition-by-asset → typed view prefix of
    * every extract* surface: decode work spreads across executors
    * regardless of how few input files there are (binary blobs make
    * row-group boundaries coarse). */
  private def typedAssets[I: org.apache.spark.sql.Encoder](
      assets: DataFrame, parallelism: Int,
      cols: org.apache.spark.sql.Column*): Dataset[I] = {
    val parts = if (parallelism > 0) parallelism
      else assets.sparkSession.sessionState.conf.numShufflePartitions
    assets.select(cols: _*).repartition(parts, col("asset_id")).as[I]
  }

  /** The ONE partition-batched, task-scoped codec loop (scaladoc
    * contract above [[extractFeatures]]): a codec instance per task,
    * opened before its first batch, closed on task completion —
    * success, failure, or early termination alike. */
  private def runCodecLoop[I, O: org.apache.spark.sql.Encoder](
      input: Dataset[I],
      codecFactory: () => PartitionCodec[I, O],
      batchSize: Int): Dataset[O] =
    input.mapPartitions { rows =>
      val codec = codecFactory()
      codec.open()
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => codec.close()))
      rows.grouped(batchSize).flatMap(batch => codec.decodeBatch(batch))
    }

  // -------------------------------------------------------------------
  // Real decoders for self-describing formats (pure JVM byte parsing,
  // no external libraries): RIFF/WAVE PCM16 audio and PPM (P6) images.
  // These upgrade the codec seam from "stub only" to "real decode where
  // the container needs no native library"; codecs that DO need one
  // (JPEG, H.264, ...) still plug in behind the same traits.
  // -------------------------------------------------------------------

  /** Decoded-audio features — exact integers only (peak and energy of
    * the PCM samples), so a decode can be verified bit-for-bit against
    * an external computation of the same samples. */
  final case class AudioFeatures(
      asset_id: Long,
      sample_rate: Int,
      n_channels: Int,
      n_samples: Long,
      peak_abs: Long,
      sum_sq: Long)

  /** Audio analog of [[MediaCodec]]: same per-partition lifecycle and
    * batch shape, typed to decoded-sample features. */
  trait AudioCodec extends PartitionCodec[(Long, Array[Byte]), AudioFeatures] {
    override def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[AudioFeatures] =
      batch.map { case (id, bytes) => decode(id, bytes) }
    def decode(assetId: Long, payload: Array[Byte]): AudioFeatures
  }

  /** REAL WAV decoder: RIFF chunk walk → fmt/data parse → PCM16LE
    * samples → exact features. Not a stub — decodes any standard
    * PCM16 WAV (including files with extra chunks such as LIST). */
  object WavPcmCodec extends AudioCodec {
    override def decode(assetId: Long, payload: Array[Byte]): AudioFeatures = {
      val (rate, channels, samples) = decodeWavPcm16(payload)
      var peak = 0L
      var sumSq = 0L
      var i = 0
      while (i < samples.length) {
        val v = samples(i).toLong
        val a = math.abs(v)
        if (a > peak) peak = a
        sumSq += v * v
        i += 1
      }
      AudioFeatures(assetId, rate, channels, samples.length.toLong, peak, sumSq)
    }
  }

  /** Minimal RIFF/WAVE PCM16LE writer (the ingest-side inverse of
    * [[decodeWavPcm16]]; `channels` interleaved in `samples`). */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Int, channels: Int = 1): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0,
      s"sample count ${samples.length} not a multiple of channels $channels")
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1)                        // PCM
    bb.putShort(channels.toShort)
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * channels * 2)  // byte rate
    bb.putShort((channels * 2).toShort)   // block align
    bb.putShort(16)                       // bits per sample
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Minimal Sun AU (.snd) writer: 24-byte big-endian header,
    * encoding 3 (16-bit linear PCM), big-endian samples — the
    * test/fixture counterpart of [[decodeAuPcm16]]. */
  def encodeAuPcm16(samples: Array[Short], sampleRate: Int, channels: Int = 1): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0,
      s"sample count ${samples.length} not a multiple of channels $channels")
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(24 + dataLen)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(".snd".getBytes("US-ASCII"))
    bb.putInt(24)           // data offset
    bb.putInt(dataLen)      // data size
    bb.putInt(3)            // encoding: 16-bit linear PCM
    bb.putInt(sampleRate)
    bb.putInt(channels)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** REAL Sun AU (.snd) PCM16 reader: big-endian header walk (magic,
    * data offset ≥ 24, encoding must be 3 = 16-bit linear PCM),
    * big-endian samples from the declared offset, bounded by the
    * declared size (0xFFFFFFFF = unknown ⇒ to end of payload).
    * Fail-loud on malformed input, like [[decodeWavPcm16]]. */
  def decodeAuPcm16(bytes: Array[Byte]): (Int, Int, Array[Short]) = {
    require(isAu(bytes) && bytes.length >= 24, "not an AU file")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.position(4)
    val dataOffset = bb.getInt
    val dataSize = bb.getInt
    val encoding = bb.getInt
    val rate = bb.getInt
    val channels = bb.getInt
    require(dataOffset >= 24, s"bad AU data offset $dataOffset")
    require(encoding == 3, s"unsupported AU encoding $encoding (only 16-bit PCM)")
    require(rate > 0 && channels >= 1, s"bad AU rate/channels $rate/$channels")
    val avail = bytes.length - dataOffset
    require(avail >= 0, "truncated AU: data offset past end")
    // dataSize is UNSIGNED 32-bit: read through a mask, then clamp to
    // the payload — which also absorbs the 0xFFFFFFFF "unknown size"
    // convention (it clamps to end-of-payload). Treating it as a
    // signed Int would turn sizes >= 2^31 into a negative array length.
    val dataLen = math.min(dataSize & 0xFFFFFFFFL, avail.toLong).toInt
    require(dataLen % 2 == 0, s"odd AU PCM16 data length $dataLen")
    val n = dataLen / 2
    require(n % channels == 0, s"AU sample count $n not a multiple of channels $channels")
    bb.position(dataOffset)
    val out = new Array[Short](n)
    var i = 0
    while (i < n) { out(i) = bb.getShort; i += 1 }
    (rate, channels, out)
  }

  /** RIFF/WAVE PCM16 reader: walks chunks (odd sizes pad to even per
    * the RIFF spec, unknown chunks skipped), requires format tag 1
    * (PCM) at 16 bits, returns (sampleRate, channels, interleaved
    * samples). Fail-loud on malformed input — a truncated or non-PCM
    * payload raises instead of yielding garbage features. */
  def decodeWavPcm16(bytes: Array[Byte]): (Int, Int, Array[Short]) = {
    require(bytes != null && bytes.length >= 44, "not a WAV: too short")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
    }
    require(tag() == "RIFF", "not a WAV: missing RIFF")
    bb.getInt // overall size (unreliable in the wild; chunk walk instead)
    require(tag() == "WAVE", "not a WAV: missing WAVE")
    var rate = -1; var channels = -1; var bits = -1; var fmtCode = -1
    var dataOff = -1; var dataLen = -1
    // the walk continues past the data chunk until BOTH fmt and data
    // are seen — RIFF does not mandate fmt-before-data, and stopping
    // at data would reject a legal fmt-after-data file
    while (bb.remaining() >= 8 && (dataOff < 0 || fmtCode < 0)) {
      val id = tag(); val size = bb.getInt
      require(size >= 0 && size <= bb.remaining(), s"truncated chunk $id")
      // chunks are word-aligned (odd sizes carry a pad byte); a final
      // chunk may legally omit the pad — clamp instead of overrunning
      val next = math.min(bb.position() + size + (size & 1), bb.limit())
      id match {
        case "fmt " =>
          // the six PCM fmt fields span 16 bytes; a shorter declared
          // size would read into the next chunk's bytes (or throw an
          // uncontrolled BufferUnderflow) — fail loud instead
          require(size >= 16, s"short fmt chunk ($size bytes)")
          fmtCode = bb.getShort & 0xffff
          channels = bb.getShort & 0xffff
          rate = bb.getInt
          bb.getInt; bb.getShort // byte rate, block align
          bits = bb.getShort & 0xffff
        case "data" =>
          dataOff = bb.position(); dataLen = size
        case _ => ()
      }
      bb.position(next)
    }
    require(fmtCode == 1, s"not PCM (format $fmtCode)")
    require(bits == 16, s"not 16-bit (bits $bits)")
    require(channels >= 1 && rate > 0, "malformed fmt chunk")
    require(dataOff >= 0, "no data chunk")
    // fail-loud contract: a 16-bit PCM data chunk must hold whole
    // samples — an odd byte length is a malformed payload, not a
    // truncate-and-continue case
    require(dataLen % 2 == 0, s"odd PCM16 data-chunk length $dataLen")
    val n = dataLen / 2
    val out = new Array[Short](n)
    bb.position(dataOff)
    var i = 0
    while (i < n) { out(i) = bb.getShort; i += 1 }
    (rate, channels, out)
  }

  /** Decode WAV assets to exact audio features through the same
    * partition-batched, task-scoped-codec loop as [[extractFeatures]].
    * The default codec is the REAL [[WavPcmCodec]]. */
  def extractAudioFeatures(
      assets: DataFrame,
      codecFactory: () => AudioCodec = () => WavPcmCodec,
      parallelism: Int = 0,
      batchSize: Int = 64): Dataset[AudioFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    runCodecLoop(
      typedAssets[(Long, Array[Byte])](assets, parallelism,
        col("asset_id"), col("payload")),
      codecFactory, batchSize)
  }

  /** Decoded-image features — exact integers (dimensions + per-channel
    * sums over all pixels). */
  final case class ImageFeatures(
      asset_id: Long,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long)

  /** Minimal PPM (P6, maxval 255) writer: `pixels` is interleaved RGB,
    * row-major. */
  def encodePpm(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height * 3,
      s"pixel buffer ${pixels.length} != $width x $height x 3")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pixels, 0, out, header.length, pixels.length)
    out
  }

  /** REAL PPM (P6) decoder: header parse (whitespace + '#' comments per
    * the netpbm spec), maxval 255, returns (width, height, interleaved
    * RGB). */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes != null && bytes.length > 2 &&
      bytes(0) == 'P' && bytes(1) == '6', "not a P6 PPM")
    var pos = 2
    def nextInt(): Int = {
      // skip whitespace and '#'-to-end-of-line comments
      var inComment = false
      while (pos < bytes.length &&
        (inComment || bytes(pos).toChar.isWhitespace || bytes(pos) == '#')) {
        if (bytes(pos) == '#') inComment = true
        else if (bytes(pos) == '\n') inComment = false
        pos += 1
      }
      var v = 0
      var any = false
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1; any = true
      }
      require(any, "malformed PPM header")
      v
    }
    val (w, h, maxval) = (nextInt(), nextInt(), nextInt())
    require(maxval == 255, s"unsupported maxval $maxval (only 8-bit)")
    // exactly ONE whitespace byte separates maxval from pixel data per
    // the spec — verify it IS whitespace, and reject the CRLF ambiguity
    // outright (a CRLF-writing tool's '\n' would otherwise be consumed
    // as the first red byte, shifting every pixel by one, silently)
    require(pos < bytes.length, "truncated PPM header")
    // the netpbm whitespace set exactly — Char.isWhitespace also
    // accepts 0x1C-0x1F separators, which the spec does not
    val wsOk = bytes(pos) == ' ' || bytes(pos) == '\t' || bytes(pos) == '\n' ||
      bytes(pos) == '\r' || bytes(pos) == 0x0b || bytes(pos) == 0x0c
    require(wsOk, "malformed PPM: maxval not followed by a whitespace byte")
    require(!(bytes(pos) == '\r' && pos + 1 < bytes.length && bytes(pos + 1) == '\n'),
      "malformed PPM: CRLF after maxval (spec requires a single whitespace byte)")
    pos += 1
    require(bytes.length - pos >= w * h * 3, "truncated PPM pixel data")
    (w, h, java.util.Arrays.copyOfRange(bytes, pos, pos + w * h * 3))
  }

  /** Image features via the real [[decodePpm]]. */
  def ppmFeatures(assetId: Long, payload: Array[Byte]): ImageFeatures = {
    val (w, h, px) = decodePpm(payload)
    imageFeaturesOfRgb(assetId, w, h, px)
  }

  private def imageFeaturesOfRgb(
      assetId: Long, w: Int, h: Int, px: Array[Byte]): ImageFeatures = {
    var (r, g, b) = (0L, 0L, 0L)
    var i = 0
    while (i < px.length) {
      r += px(i) & 0xff; g += px(i + 1) & 0xff; b += px(i + 2) & 0xff
      i += 3
    }
    ImageFeatures(assetId, w, h, r, g, b)
  }

  private def le32(bytes: Array[Byte], off: Int): Int =
    (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
      ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)

  /** Container magic sniffs — the ONE copy each, shared by the
    * decoder's own validation and [[RealFirstCodec]]'s dispatch. */
  def isBmp(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M'

  def isAu(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 4 && bytes(0) == '.' &&
      bytes(1) == 's' && bytes(2) == 'n' && bytes(3) == 'd'

  /** Minimal 24-bit uncompressed BMP writer (BITMAPINFOHEADER,
    * bottom-up, rows padded to 4 bytes): `pixels` is interleaved RGB,
    * row-major top-down — the test/fixture counterpart of
    * [[decodeBmp24]], like [[encodePpm]] for PPM. */
  def encodeBmp24(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height * 3,
      s"pixel buffer ${pixels.length} != $width x $height x 3")
    val rowBytes = width * 3
    val pad = (4 - rowBytes % 4) % 4
    val dataSize = (rowBytes + pad) * height
    val out = new Array[Byte](54 + dataSize)
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe32(2, out.length); putLe32(10, 54)
    putLe32(14, 40); putLe32(18, width); putLe32(22, height)
    out(26) = 1; out(28) = 24 // planes, bpp (compression stays 0)
    putLe32(34, dataSize)
    var y = 0
    while (y < height) {
      // bottom-up: output row y holds source row (height-1-y), BGR order
      val src = (height - 1 - y) * rowBytes
      val dst = 54 + y * (rowBytes + pad)
      var x = 0
      while (x < width) {
        out(dst + x * 3) = pixels(src + x * 3 + 2)
        out(dst + x * 3 + 1) = pixels(src + x * 3 + 1)
        out(dst + x * 3 + 2) = pixels(src + x * 3)
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL BMP decoder: 24-bit uncompressed BITMAPINFOHEADER files
    * (the ubiquitous plain-BMP shape) — little-endian header walk,
    * 4-byte row padding, BGR→RGB, bottom-up or top-down (negative
    * height) normalized to top-down row-major interleaved RGB.
    * Fail-loud on anything else (palettes, RLE, other bit depths),
    * like the other real parsers. */
  def decodeBmp24(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(isBmp(bytes) && bytes.length >= 54, "not a BMP")
    val dataOffset = le32(bytes, 10)
    val dibSize = le32(bytes, 14)
    require(dibSize >= 40, s"unsupported DIB header size $dibSize")
    // pixels must start AFTER the headers — a malformed offset inside
    // (or before) the header region would silently decode header
    // bytes as pixels (and a negative one would defeat the
    // truncation require below, crashing uncontrolled). Long math: a
    // crafted dibSize near Int.MaxValue would overflow `14 + dibSize`
    // negative and let a bad offset through; the header must also fit
    // the payload at all
    require(dibSize <= bytes.length, s"DIB header size $dibSize past end of payload")
    require(dataOffset.toLong >= 14L + dibSize, s"bad BMP data offset $dataOffset")
    val w = le32(bytes, 18)
    val hRaw = le32(bytes, 22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val bpp = (bytes(28) & 0xff) | ((bytes(29) & 0xff) << 8)
    val compression = le32(bytes, 30)
    require(w > 0 && h > 0, s"bad dimensions ${w}x$hRaw")
    require(bpp == 24, s"unsupported bpp $bpp (only 24-bit)")
    require(compression == 0, s"unsupported compression $compression (only BI_RGB)")
    // Long math throughout the sizing: a corrupt width near 2^31/3
    // would overflow Int rowBytes, sneak past the truncation check,
    // and die uncontrolled in the pixel loop
    val rowBytesL = 3L * w
    val strideL = rowBytesL + (4 - rowBytesL % 4) % 4
    require(bytes.length.toLong >= dataOffset.toLong + strideL * h,
      "truncated BMP pixel data")
    require(3L * w * h <= Int.MaxValue, s"implausible BMP pixel volume ${w}x$h")
    val rowBytes = rowBytesL.toInt
    val stride = strideL.toInt
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val src = dataOffset + srcRow * stride
      val dst = y * rowBytes
      var x = 0
      while (x < w) {
        out(dst + x * 3) = bytes(src + x * 3 + 2)
        out(dst + x * 3 + 1) = bytes(src + x * 3 + 1)
        out(dst + x * 3 + 2) = bytes(src + x * 3)
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  /** Image features via the real [[decodeBmp24]]. */
  def bmpFeatures(assetId: Long, payload: Array[Byte]): ImageFeatures = {
    val (w, h, px) = decodeBmp24(payload)
    imageFeaturesOfRgb(assetId, w, h, px)
  }

  def isPng(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 8 &&
      (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G' && (bytes(4) & 0xff) == 0x0d && (bytes(5) & 0xff) == 0x0a &&
      (bytes(6) & 0xff) == 0x1a && (bytes(7) & 0xff) == 0x0a

  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 3 &&
      (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff

  def isGif(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'I' &&
      bytes(2) == 'F' && bytes(3) == '8'

  /** Deterministic 8-bit-RGB PNG writer with STORED (uncompressed)
    * deflate blocks — a fully standard PNG any decoder reads, chosen
    * over `ImageIO.write` for the fixture lane because its byte length
    * is pure arithmetic: raw = h·(1+3w) filter-prefixed scanline
    * bytes, nblocks = ⌈raw/65535⌉, total = 63 + 5·nblocks + raw
    * (signature 8 + IHDR 25 + IDAT overhead 12 + zlib header 2 +
    * adler 4 + IEND 12). That makes an encode→decode round trip
    * verifiable by an external SQL oracle (q36's image lane), with the
    * DECODE side exercised through the JDK's real ImageIO PNG reader
    * ([[decodeImageIo]]) — compression would buy nothing on the tiny
    * fixture payloads and would make n_bytes engine-opaque. */
  def encodePng(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && pixels.length == width * height * 3,
      s"pixel buffer ${pixels.length} != $width x $height x 3")
    // raw zlib payload: each scanline prefixed with filter type 0 (None)
    val rowBytes = width * 3
    val raw = new Array[Byte](height * (1 + rowBytes))
    var y = 0
    while (y < height) {
      raw(y * (1 + rowBytes)) = 0
      System.arraycopy(pixels, y * rowBytes, raw, y * (1 + rowBytes) + 1, rowBytes)
      y += 1
    }
    val nBlocks = (raw.length + 65534) / 65535
    val zLen = 2 + 5 * nBlocks + raw.length + 4
    val out = java.nio.ByteBuffer.allocate(8 + 25 + 12 + zLen + 12)
    out.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    val crc = new java.util.zip.CRC32
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.putInt(data.length)
      val t = typ.getBytes("US-ASCII")
      crc.reset(); crc.update(t); crc.update(data)
      out.put(t); out.put(data); out.putInt(crc.getValue.toInt)
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(width).putInt(height)
    ihdr.put(8.toByte)  // bit depth
    ihdr.put(2.toByte)  // color type: truecolor RGB
    ihdr.put(0.toByte); ihdr.put(0.toByte); ihdr.put(0.toByte) // deflate, filter 0, no interlace
    chunk("IHDR", ihdr.array())
    val idat = java.nio.ByteBuffer.allocate(zLen)
    idat.put(0x78.toByte); idat.put(0x01.toByte) // zlib CMF/FLG (level 0; (0x7801 % 31) == 0)
    var off = 0
    while (off < raw.length) {
      val len = math.min(65535, raw.length - off)
      idat.put(if (off + len == raw.length) 1.toByte else 0.toByte) // BFINAL | BTYPE=00 (stored)
      idat.put((len & 0xff).toByte); idat.put(((len >> 8) & 0xff).toByte)
      idat.put((~len & 0xff).toByte); idat.put(((~len >> 8) & 0xff).toByte)
      idat.put(raw, off, len)
      off += len
    }
    val adler = new java.util.zip.Adler32
    adler.update(raw)
    idat.putInt(adler.getValue.toInt)
    chunk("IDAT", idat.array())
    chunk("IEND", Array.emptyByteArray)
    out.array()
  }

  /** REAL PNG/JPEG/GIF decode via the JDK's bundled ImageIO readers
    * (pure-JVM, headless-safe — the same `javax.imageio` machinery
    * [[graft.report.PngChart]] uses to WRITE PNGs). Returns (width,
    * height, interleaved RGB, top-down row-major). Fail-loud like the
    * hand-rolled parsers: an undecodable payload raises instead of
    * yielding garbage features. For PNG (lossless) the round trip
    * through [[encodePng]] is bit-exact; JPEG decode is real but the
    * codec itself is lossy, so its guarantees are dimensional + bounded
    * pixel error (spec-carried, not oracle-carried). */
  def decodeImageIo(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes != null && bytes.length > 0, "empty image payload")
    // header-first decode (the round-8 byte-parser checklist applies to
    // library decoders too): reader.getWidth/getHeight parse ONLY the
    // header, so declared dimensions are range-checked BEFORE the full
    // decode may allocate pixel buffers — a crafted IHDR/SOF declaring
    // 2^31-ish dimensions is rejected here instead of driving the JDK
    // reader into multi-GB allocations. Reader exceptions of any
    // non-fatal kind (IIOException, but also the unchecked kinds JDK
    // readers throw on truncated bodies) surface as the seam's
    // documented IllegalArgumentException.
    def bad(stage: String, e: Throwable): Nothing =
      throw new IllegalArgumentException(s"undecodable image ($stage): ${e.getMessage}", e)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext, "undecodable image: no ImageIO reader accepted the payload")
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val (w, h) =
          try (reader.getWidth(0), reader.getHeight(0))
          catch { case scala.util.control.NonFatal(e) => bad("header", e) }
        require(w > 0 && h > 0, s"bad declared dimensions ${w}x$h")
        require(3L * w * h <= Int.MaxValue, s"implausible image pixel volume ${w}x$h")
        val img =
          try reader.read(0)
          catch { case scala.util.control.NonFatal(e) => bad("body", e) }
        val argb = img.getRGB(0, 0, w, h, null, 0, w)
        val out = new Array[Byte](w * h * 3)
        var i = 0
        while (i < argb.length) {
          val p = argb(i)
          out(i * 3) = ((p >> 16) & 0xff).toByte
          out(i * 3 + 1) = ((p >> 8) & 0xff).toByte
          out(i * 3 + 2) = (p & 0xff).toByte
          i += 1
        }
        (w, h, out)
      } finally reader.dispose()
    } finally iis.close()
  }

  /** JPEG writer for fixtures/specs (ImageIO's real lossy encoder —
    * output size is codec-dependent, so JPEG stays off the arithmetic
    * oracle and on spec-level round-trip checks). */
  def encodeJpeg(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && pixels.length == width * height * 3,
      s"pixel buffer ${pixels.length} != $width x $height x 3")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < width * height) {
      img.setRGB(i % width, i / width,
        ((pixels(i * 3) & 0xff) << 16) | ((pixels(i * 3 + 1) & 0xff) << 8) |
          (pixels(i * 3 + 2) & 0xff))
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", bos), "no JPEG ImageIO writer")
    bos.toByteArray
  }

  /** Image features via the real JDK ImageIO decode ([[decodeImageIo]]). */
  def imageIoFeatures(assetId: Long, payload: Array[Byte]): ImageFeatures = {
    val (w, h, px) = decodeImageIo(payload)
    imageFeaturesOfRgb(assetId, w, h, px)
  }

  // -------------------------------------------------------------------
  // Unified real-first decode: one feature row shape across media
  // types, EXACT-integer fields only, so every lane — real audio
  // decode, real image decode, byte-level stub — is verifiable
  // arithmetically by an external engine (the q36 oracle).
  // -------------------------------------------------------------------

  /** Field mapping per media_type:
    *   audio (REAL [[decodeWavPcm16]]): n_units = samples, dim_a =
    *     sample rate, dim_b = channels, feat_a = peak |sample|,
    *     feat_b = Σ sample², feat_c = Σ sample
    *   image (REAL [[decodePpm]] or [[decodeBmp24]], sniffed by
    *     container magic): n_units = pixels, dim_a = width,
    *     dim_b = height, feat_a = Σ R, feat_b = Σ G, feat_c = Σ B
    *   anything else (stub fallback — no native codec ships in this
    *     environment): n_units = n_bytes, dim_a = dim_b = 0,
    *     feat_a = max byte, feat_b = Σ bytes, feat_c = 0 */
  final case class MediaDecoded(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      n_units: Long,
      dim_a: Long,
      dim_b: Long,
      feat_a: Long,
      feat_b: Long,
      feat_c: Long)

  /** [[MediaCodec]]'s lifecycle (per-task open/close, bounded batches)
    * typed to the unified exact-integer features. */
  trait DecodingCodec extends PartitionCodec[(Long, String, Array[Byte]), MediaDecoded] {
    override def decodeBatch(batch: Seq[(Long, String, Array[Byte])]): Seq[MediaDecoded] =
      batch.map { case (id, mt, bytes) => decode(id, mt, bytes) }
    def decode(assetId: Long, mediaType: String, payload: Array[Byte]): MediaDecoded
  }

  /** Real-first dispatch: container formats the repo CAN decode go
    * through the real parsers (fail-loud on malformed payloads); only
    * formats that would need a native library fall back to byte-level
    * stub features. */
  object RealFirstCodec extends DecodingCodec {
    override def decode(assetId: Long, mediaType: String, payload: Array[Byte]): MediaDecoded = {
      val nb = if (payload == null) 0L else payload.length.toLong
      mediaType match {
        case "audio" =>
          // container sniff inside the type, like the image lane:
          // '.snd' is Sun AU, anything else goes to the RIFF walk
          val (rate, channels, samples) =
            if (isAu(payload)) decodeAuPcm16(payload)
            else decodeWavPcm16(payload)
          var peak = 0L; var sumSq = 0L; var sum = 0L
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toLong
            val a = math.abs(v)
            if (a > peak) peak = a
            sumSq += v * v; sum += v
            i += 1
          }
          MediaDecoded(assetId, mediaType, nb, samples.length.toLong,
            rate.toLong, channels.toLong, peak, sumSq, sum)
        case "image" =>
          // container sniff inside the type: every real image parser is
          // self-describing ('BM' bitmap, PNG/JPEG magic → JDK ImageIO,
          // 'P6' netpbm)
          val f =
            if (isBmp(payload)) bmpFeatures(assetId, payload)
            else if (isPng(payload) || isJpeg(payload) || isGif(payload))
              imageIoFeatures(assetId, payload)
            else ppmFeatures(assetId, payload)
          MediaDecoded(assetId, mediaType, nb, f.width.toLong * f.height,
            f.width.toLong, f.height.toLong, f.sum_r, f.sum_g, f.sum_b)
        case _ =>
          var mx = 0L; var sm = 0L
          var i = 0
          val n = nb.toInt
          while (i < n) {
            val b = (payload(i) & 0xff).toLong
            if (b > mx) mx = b
            sm += b
            i += 1
          }
          MediaDecoded(assetId, mediaType, nb, nb, 0L, 0L, mx, sm, 0L)
      }
    }
  }

  /** Decode mixed-media assets to unified exact features through the
    * same partition-batched, task-scoped-codec loop as
    * [[extractFeatures]]. Default codec is the real-first dispatcher. */
  def extractDecoded(
      assets: DataFrame,
      codecFactory: () => DecodingCodec = () => RealFirstCodec,
      parallelism: Int = 0,
      batchSize: Int = 64): Dataset[MediaDecoded] = {
    val spark = assets.sparkSession
    import spark.implicits._
    runCodecLoop(
      typedAssets[(Long, String, Array[Byte])](assets, parallelism,
        col("asset_id"), col("media_type"), col("payload")),
      codecFactory, batchSize)
  }

  /** Build a media-asset table from any binary-able column — used by
    * tests and as the documented ingestion pattern (payloads stay
    * opaque; metadata is first-class columns). */
  def assetsFromBinary(df: DataFrame, idCol: String, payloadCol: String, mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("asset_id"),
      lit(mediaType).as("media_type"),
      col(payloadCol).cast("binary").as("payload"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"))
}
