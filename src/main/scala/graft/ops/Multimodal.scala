package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, a row-wise decode and a resize plan.
  *
  * The Spark-side plumbing (schema, a typed narrow map) is REAL and tested.
  * The codec is REAL wherever the JDK ships one, offline-safe:
  *  - raster images (PNG/BMP/GIF via `javax.imageio`): [[decodeImage]]
  *    fully decodes the pixel grid and checksums it, so the metadata
  *    provably comes from a decode, not a header sniff;
  *  - audio (WAV/PCM via `javax.sound.sampled.AudioSystem`):
  *    [[decodeAudio]] streams every PCM frame through the decoder and
  *    checksums the decoded bytes;
  *  - video (MJPEG-in-AVI via a RIFF chunk walk + per-frame ImageIO JPEG
  *    decode): [[decodeVideo]] decodes EVERY frame's pixel grid and
  *    chains one checksum across them.
  * A payload outside every JDK-decodable container class (e.g. H.264)
  * comes back as format "unknown", `valid = false`.
  */
object Multimodal {

  /** Typed metadata for a decoded asset. Field semantics per family:
    * images — width/height in pixels, nFrames = 1; audio — width = sample
    * rate (Hz), height = channels, nFrames = PCM frame count; video —
    * first decoded frame's pixel dims, nFrames = decoded frame count,
    * checksum chained over every frame's pixels. */
  final case class AssetMeta(
      assetId: Long,
      format: String,
      width: Int,
      height: Int,
      nFrames: Int,
      bytes: Long,
      checksum: Long,
      valid: Boolean)

  final case class AssetRow(assetId: Long, payload: Array[Byte])

  /** Real raster decode via JDK ImageIO (PNG/BMP/GIF). Returns None when
    * the payload's magic is not a supported raster format. The checksum is
    * fnv1a over the DECODED row-major ARGB pixels — it can only be right
    * if the full pixel grid was actually decoded. */
  /** Max pixels a raster decode may allocate (64 MP ≈ 256 MB ARGB): a
    * hostile header declaring 65535×65535 would otherwise drive ImageIO
    * into a ~17 GB allocation whose OutOfMemoryError is an Error — no
    * catch Exception can contain it. Dimensions are read from the HEADER
    * (ImageReader.getWidth/getHeight decode no pixels) before any full
    * read. */
  val MaxPixels: Long = 64L * 1000000L

  def decodeImage(assetId: Long, payload: Array[Byte]): Option[AssetMeta] = {
    if (payload == null || payload.length < 8) return None
    val isPng = payload(0) == 0x89.toByte && payload(1) == 'P' && payload(2) == 'N' && payload(3) == 'G'
    val isBmp = payload(0) == 'B' && payload(1) == 'M'
    val isGif = payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == '8'
    if (!isPng && !isBmp && !isGif) return None
    val fmt = if (isPng) "png" else if (isBmp) "bmp" else "gif"
    def invalid = Some(AssetMeta(assetId, fmt, 0, 0, 0, payload.length.toLong, 0L, valid = false))
    try {
      // MemoryCacheImageInputStream, NOT createImageInputStream: the
      // default file-cache variant writes every in-memory payload to a
      // temp file whose fd is only reclaimed at finalization — an executor
      // decoding millions of assets leaks fds/tmp-disk (review r4-4)
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return invalid
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h.toLong > MaxPixels) return invalid
          val img = reader.read(0)
          if (img == null) return invalid
          Some(AssetMeta(assetId, fmt, img.getWidth, img.getHeight, 1,
            payload.length.toLong, pixelChecksum(img), valid = true))
        } finally reader.dispose()
      } finally iis.close()
    } catch {
      // a payload that SNIFFED as raster but throws mid-decode is corrupt
      // raster, not "unknown": falling through to the unknown result here
      // reported fmt "unknown" while the no-reader/bad-dims paths reported the
      // sniffed fmt with valid=false — same failure class, two shapes
      case _: Exception => invalid
    }
  }

  /** fnv1a-64 over row-major packed ARGB ints (big-endian byte order). */
  def pixelChecksum(img: java.awt.image.BufferedImage): Long =
    chainPixels(0xcbf29ce484222325L, img)

  /** Continue an fnv1a fold over an image's pixels — the multi-frame
    * (video) checksum chains every decoded frame through one running
    * state, so it can only be right if EVERY frame was decoded. */
  def chainPixels(ck0: Long, img: java.awt.image.BufferedImage): Long = {
    var ck = ck0
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        var sh = 24
        while (sh >= 0) { ck = (ck ^ ((p >>> sh) & 0xFF)) * 0x100000001b3L; sh -= 8 }
        x += 1
      }
      y += 1
    }
    ck
  }

  /** Encode a deterministic synthetic image as real PNG bytes (FixtureGen
    * for the raster path — ImageIO's own encoder, so the bytes are a true
    * PNG stream incl. zlib-compressed IDAT). */
  def makePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = Dedup.mix64(id ^ (y.toLong << 20) ^ x.toLong)
        img.setRGB(x, y, (v & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real WAV/PCM decode via the JDK sound stack. Returns None when the
    * payload's magic is not RIFF/WAVE. The checksum is fnv1a over the
    * DECODED PCM byte stream (post-decoder, frame order) — it can only be
    * right if every frame actually went through the codec. Frames are
    * STREAMED through a bounded buffer, so a hostile header declaring a
    * huge length cannot force a large allocation (the read ends at the
    * payload's real EOF). */
  def decodeAudio(assetId: Long, payload: Array[Byte]): Option[AssetMeta] = {
    if (payload == null || payload.length < 12) return None
    val isRiffWave = payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
      payload(3) == 'F' && payload(8) == 'W' && payload(9) == 'A' &&
      payload(10) == 'V' && payload(11) == 'E'
    if (!isRiffWave) return None
    def invalid = Some(AssetMeta(assetId, "wav", 0, 0, 0, payload.length.toLong, 0L, valid = false))
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val frameSize = fmt.getFrameSize
        val rate = fmt.getSampleRate
        if (frameSize <= 0 || rate <= 0f || fmt.getChannels <= 0) return invalid
        // belt-and-braces: WAV's 2-byte blockAlign caps a PARSED frame at
        // 65535 B, but AudioSystem serves other providers whose formats
        // could report larger frames; 1 MB/frame is beyond any PCM layout
        if (frameSize > (1 << 20)) return invalid
        var ck = 0xcbf29ce484222325L
        var totalBytes = 0L
        // at least one whole frame per read: 8192 − 8192 % frameSize is
        // ZERO when frameSize > 8192, and read(empty) loops forever at 0
        val buf = new Array[Byte](
          if (frameSize >= 8192) frameSize else 8192 - 8192 % frameSize)
        var n = ais.read(buf)
        while (n > 0) {
          var i = 0
          while (i < n) { ck = (ck ^ (buf(i) & 0xFF)) * 0x100000001b3L; i += 1 }
          totalBytes += n
          n = ais.read(buf)
        }
        // frames == 0 (a headers-only WAV) is a VALID empty stream — the
        // checksum is the fnv basis over zero decoded bytes
        val frames = totalBytes / frameSize
        if (frames > Int.MaxValue) return invalid
        Some(AssetMeta(assetId, "wav", math.round(rate), fmt.getChannels,
          frames.toInt, payload.length.toLong, ck, valid = true))
      } finally ais.close()
    } catch {
      // sniffed as WAV but the decoder rejects it: corrupt audio, reported
      // as such (same invalid-shape discipline as decodeImage)
      case _: Exception => invalid
    }
  }

  /** Encode a deterministic synthetic mono/stereo 16-bit PCM WAV via the
    * JDK's own writer (AudioSystem.write — a true RIFF/WAVE stream), so
    * the decode under test exercises the real codec round-trip. Samples
    * are a mix64-derived wave of the asset id. */
  def makeWav(id: Long, sampleRate: Int = 8000, nFrames: Int = 1024,
      channels: Int = 1): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false) // signed, little-endian
    val pcm = new Array[Byte](nFrames * channels * 2)
    var f = 0
    while (f < nFrames) {
      var c = 0
      while (c < channels) {
        val s = (Dedup.mix64(id ^ (f.toLong << 8) ^ c.toLong) & 0xFFFF).toInt - 32768
        val off = (f * channels + c) * 2
        pcm(off) = (s & 0xFF).toByte
        pcm(off + 1) = ((s >> 8) & 0xFF).toByte
        c += 1
      }
      f += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** The deterministic JPEG frame of an AVI asset (shared by the encoder
    * and tests — an independent decode of these bytes must reproduce the
    * container decode's chained checksum). */
  def aviFrameJpeg(id: Long, frame: Int, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = Dedup.mix64(id ^ (frame.toLong << 40) ^ (y.toLong << 20) ^ x.toLong)
        img.setRGB(x, y, (v & 0xFFFFFF).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** Encode a deterministic MJPEG-in-AVI container — a true RIFF/AVI
    * stream (hdrl with avih + vids/MJPG strl, movi with one `00dc` JPEG
    * chunk per frame), each frame a real ImageIO-encoded JPEG. The same
    * JDK-only argument that retired the image and audio stubs: no
    * external codec is needed for this container class. */
  def makeAvi(id: Long, w: Int, h: Int, nFrames: Int, fps: Int = 10): Array[Byte] =
    writeAvi(new java.io.ByteArrayOutputStream(4096),
      (0 until nFrames).map(f => aviFrameJpeg(id, f, w, h)), w, h, nFrames, fps)

  // --- AVI writer internals (kept explicit: RIFF is offsets, not magic) ---
  private val StandardCharsets_ISO = java.nio.charset.StandardCharsets.ISO_8859_1

  private def writeAvi(dst: java.io.ByteArrayOutputStream,
      frames: Seq[Array[Byte]], w: Int, h: Int, nFrames: Int, fps: Int): Array[Byte] = {
    def le32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xFF); o.write((v >>> 8) & 0xFF)
      o.write((v >>> 16) & 0xFF); o.write((v >>> 24) & 0xFF)
    }
    def le16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xFF); o.write((v >>> 8) & 0xFF)
    }
    def cc(o: java.io.ByteArrayOutputStream, s: String): Unit =
      o.write(s.getBytes(StandardCharsets_ISO), 0, 4)
    def chunk(o: java.io.ByteArrayOutputStream, fourcc: String)(
        body: java.io.ByteArrayOutputStream => Unit): Unit = {
      val tmp = new java.io.ByteArrayOutputStream()
      body(tmp)
      cc(o, fourcc); le32(o, tmp.size)
      tmp.writeTo(o); if ((tmp.size & 1) == 1) o.write(0)
    }
    def list(o: java.io.ByteArrayOutputStream, listType: String)(
        body: java.io.ByteArrayOutputStream => Unit): Unit =
      chunk(o, "LIST") { t => cc(t, listType); body(t) }

    val riffBody = new java.io.ByteArrayOutputStream()
    cc(riffBody, "AVI ")
    list(riffBody, "hdrl") { hdrl =>
      chunk(hdrl, "avih") { a =>
        le32(a, 1000000 / math.max(fps, 1)) // dwMicroSecPerFrame
        le32(a, 0); le32(a, 0); le32(a, 0)  // maxBytesPerSec, padding, flags
        le32(a, nFrames)                    // dwTotalFrames
        le32(a, 0); le32(a, 1); le32(a, 0)  // initialFrames, streams, bufSize
        le32(a, w); le32(a, h)
        le32(a, 0); le32(a, 0); le32(a, 0); le32(a, 0) // reserved
      }
      list(hdrl, "strl") { strl =>
        chunk(strl, "strh") { s =>
          cc(s, "vids"); cc(s, "MJPG")
          le32(s, 0); le16(s, 0); le16(s, 0) // flags, priority, language
          le32(s, 0)                         // initialFrames
          le32(s, 1); le32(s, math.max(fps, 1)) // scale, rate
          le32(s, 0); le32(s, nFrames)       // start, length
          le32(s, 0); le32(s, -1); le32(s, 0) // bufSize, quality, sampleSize
          le16(s, 0); le16(s, 0); le16(s, w); le16(s, h) // rcFrame
        }
        chunk(strl, "strf") { f =>
          le32(f, 40); le32(f, w); le32(f, h) // BITMAPINFOHEADER
          le16(f, 1); le16(f, 24)             // planes, bitCount
          cc(f, "MJPG")                       // biCompression
          le32(f, w * h * 3)
          le32(f, 0); le32(f, 0); le32(f, 0); le32(f, 0)
        }
      }
    }
    list(riffBody, "movi") { movi =>
      frames.foreach(j => chunk(movi, "00dc")(t => t.write(j, 0, j.length)))
    }
    cc(dst, "RIFF"); le32(dst, riffBody.size)
    riffBody.writeTo(dst)
    dst.toByteArray
  }

  /** Per-container budget for DECODED video pixels across all frames
    * (frames × w × h): bounds a decode-bomb container (many max-size
    * frames) the same way MaxPixels bounds one hostile raster. */
  val MaxVideoPixels: Long = 4L * MaxPixels

  /** Real MJPEG-in-AVI decode via a RIFF chunk walk + per-frame ImageIO
    * JPEG decode. Returns None when the payload's magic is not RIFF/AVI.
    * Frame count = actual decoded `..dc` chunks (the avih header's
    * declared count is untrusted); dims come from the FIRST decoded
    * frame; the checksum chains fnv1a over every frame's decoded pixels
    * in stream order — right only if every frame went through the codec.
    * Hostile-container guards: any chunk size pointing past the
    * payload's real end (truncated movi) is invalid, as is a frame that
    * fails JPEG decode, a frame over [[MaxPixels]], or a container whose
    * total decoded pixels exceed [[MaxVideoPixels]]. A headers-only AVI
    * (zero frames) is a VALID empty stream, mirroring decodeAudio. */
  def decodeVideo(assetId: Long, payload: Array[Byte]): Option[AssetMeta] = {
    if (payload == null || payload.length < 12) return None
    val isRiffAvi = payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
      payload(3) == 'F' && payload(8) == 'A' && payload(9) == 'V' &&
      payload(10) == 'I' && payload(11) == ' '
    if (!isRiffAvi) return None
    def invalid = Some(AssetMeta(assetId, "avi", 0, 0, 0, payload.length.toLong, 0L, valid = false))
    def u32(off: Int): Long =
      ((payload(off) & 0xFFL)) | ((payload(off + 1) & 0xFFL) << 8) |
        ((payload(off + 2) & 0xFFL) << 16) | ((payload(off + 3) & 0xFFL) << 24)
    def cc(off: Int): String =
      new String(payload, off, 4, StandardCharsets_ISO)
    var frames = 0
    var w0 = 0; var h0 = 0
    var ck = 0xcbf29ce484222325L
    var pixelBudget = MaxVideoPixels
    // walk one chunk sequence in [start, end); returns false on any
    // structural violation (truncation, bad size, undecodable frame).
    // `depth` bounds LIST nesting: real AVIs nest 3 levels (hdrl/strl,
    // movi/rec), but a crafted payload of thousands of nested LIST
    // headers would otherwise recurse one stack frame per level and
    // throw StackOverflowError — an Error the Exception catch below
    // cannot contain (review r6)
    def walk(start: Int, end: Int, depth: Int): Boolean = {
      if (depth > 16) return false // nested-LIST bomb
      var off = start
      while (off + 8 <= end) {
        val id = cc(off)
        val size = u32(off + 4)
        if (size < 0 || size > end - off - 8) return false // truncated chunk
        val dataOff = off + 8
        val dataLen = size.toInt
        if (id == "LIST") {
          if (dataLen < 4) return false
          // recurse into any list (movi frames may nest in 'rec ' groups)
          if (!walk(dataOff + 4, dataOff + dataLen, depth + 1)) return false
        } else if (id.length == 4 && id.endsWith("dc") &&
            id.charAt(0).isDigit && id.charAt(1).isDigit) {
          // compressed video frame of a NUMBERED stream — the RIFF/AVI
          // convention is two ASCII stream-number digits + "dc"; a
          // non-digit prefix (hostile '7Xdc', vendor chunks) is skipped
          // like any other foreign chunk instead of being JPEG-decoded
          // into this stream's frame chain (ADVICE r6). A genuine second
          // video stream ('01dc') still chains — single-checksum-per-
          // container is the contract.
          // decode as JPEG:
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(payload, dataOff, dataLen))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) return false
            val reader = readers.next()
            try {
              reader.setInput(iis, true, true)
              val fw = reader.getWidth(0)
              val fh = reader.getHeight(0)
              if (fw <= 0 || fh <= 0 || fw.toLong * fh.toLong > MaxPixels) return false
              pixelBudget -= fw.toLong * fh.toLong
              if (pixelBudget < 0) return false // decode-bomb container
              val img = reader.read(0)
              if (img == null) return false
              if (frames == 0) { w0 = img.getWidth; h0 = img.getHeight }
              ck = chainPixels(ck, img)
              frames += 1
            } finally reader.dispose()
          } finally iis.close()
        } // other chunks (headers, audio, idx1) are walked over, not decoded
        off = dataOff + dataLen + (dataLen & 1)
      }
      true
    }
    try {
      val riffSize = u32(4)
      // declared RIFF size must fit the actual payload (truncated file)
      if (riffSize < 4 || 8 + riffSize > payload.length) return invalid
      if (!walk(12, 8 + riffSize.toInt, 0)) return invalid
      Some(AssetMeta(assetId, "avi", w0, h0, frames,
        payload.length.toLong, ck, valid = true))
    } catch {
      case _: Exception => invalid
    }
  }

  /** Codec dispatch: real raster decode, then real WAV decode, then real
    * MJPEG/AVI decode; any other payload is format "unknown", invalid. */
  def decode(assetId: Long, payload: Array[Byte]): AssetMeta =
    decodeImage(assetId, payload)
      .orElse(decodeAudio(assetId, payload))
      .orElse(decodeVideo(assetId, payload))
      .getOrElse(AssetMeta(assetId, "unknown", 0, 0, 0,
        if (payload == null) 0L else payload.length.toLong, 0L, valid = false))

  /** Row-wise decode of an (assetId, payload) frame. Narrow: no shuffle. */
  def decodeBatches(spark: SparkSession, assets: DataFrame): Dataset[AssetMeta] = {
    import spark.implicits._
    assets.select(col("assetId"), col("payload")).as[AssetRow]
      .map(r => decode(r.assetId, r.payload))
  }

  /** Resize plan: target dims preserving aspect (no pixels are resampled). */
  def resizePlan(meta: DataFrame, maxSide: Int): DataFrame =
    meta.filter(col("valid"))
      .withColumn("scale",
        when(greatest(col("width"), col("height")) <= maxSide, lit(1.0))
          .otherwise(lit(maxSide).cast("double") / greatest(col("width"), col("height"))))
      .withColumn("out_w", ceil(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", ceil(col("height") * col("scale")).cast("int"))
}
