package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) columns for a training-data pipeline
  * (SURVEY §2.8): payloads are opaque `binary` columns with typed metadata;
  * decode / feature-extract / frame-sample are per-partition transforms.
  *
  * Decode is pluggable behind [[Multimodal.Codec]]. [[ByteCodec]] (the
  * default) REALLY parses four public containers at the byte level — full
  * pixel/sample decode for binary PPM (P6) images and 16-bit PCM RIFF/WAVE
  * audio, header-level (dimensions + sanity) for PNG and JPEG — no media
  * library involved, which is exactly what this container can support
  * honestly; payloads in any other format fall back to the clearly-marked
  * deterministic [[FakeCodec]]. The Spark plumbing is the part that matters
  * at 100 TB and is fully real: an explicit asset schema, `mapPartitions`
  * over a typed `Dataset` (one codec init per partition, streaming iterator
  * — never a collect), frame explosion via `posexplode`, and feature
  * columns sized for downstream ANN ([[Similarity]]). Swap in JNI/FFmpeg
  * bindings as another `Codec` and nothing else changes.
  */
object Multimodal {

  /** Canonical asset schema: id + modality + opaque payload + metadata. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("bytes", LongType, nullable = false),
      StructField("origin", StringType, nullable = true))), nullable = false)))

  final case class RawAsset(asset_id: Long, modality: String, payload: Array[Byte])
  final case class DecodedAsset(asset_id: Long, modality: String,
                                width: Int, height: Int, n_frames: Int,
                                feature: Array[Float])
  final case class Frame(asset_id: Long, frame_no: Int, frame: Array[Byte])

  /** Bytes-in, struct-out decoder contract; one instance is shared per
    * partition (initialize heavyweight state in a lazy field). */
  trait Codec extends Serializable {
    def decode(a: RawAsset): DecodedAsset
  }

  /** Deterministic stand-in for the real image/audio/video decoder: derives
    * "decoded" properties from the payload header bytes. Replace with real
    * codec bindings in production — the signature (bytes in, struct out) and
    * the per-partition batch shape are the contract. */
  object FakeCodec extends Codec {
    def decode(a: RawAsset): DecodedAsset = {
      val b = a.payload
      def u(i: Int): Int = if (b != null && b.length > i) b(i) & 0xff else 0
      DecodedAsset(a.asset_id, a.modality,
        width = 16 + u(0) % 240,
        height = 16 + u(1) % 240,
        n_frames = if (a.modality == "video") 1 + u(2) % 30 else 1,
        feature = Array.tabulate(8)(i => u(i).toFloat / 255f))
    }
  }

  /** HONEST byte-level decoder for four public containers — real container
    * parsing with no media library:
    *
    *  - binary PPM (`P6` magic; Netpbm format): ASCII header
    *    `P6 <width> <height> <maxval>` (whitespace-separated, `#` comments
    *    allowed), one whitespace byte, then `width·height` raw RGB
    *    triplets. Emits (width, height, n_frames=1) and feature
    *    `[meanR/maxval, meanG/maxval, meanB/maxval, width, height, maxval,
    *    3, 1]`.
    *  - RIFF/WAVE, 16-bit integer PCM: chunk walk from offset 12 (word-
    *    aligned sizes), `fmt ` → (format, channels, sample rate, bits),
    *    `data` → the sample block. Emits (width=sample rate,
    *    height=channels, n_frames=samples per channel) and feature
    *    `[meanAbs(ch0)/32768, …, meanAbs(ch7)/32768]` (absent channels 0).
    *
    * …and header-level parsing (dimensions + sanity, no entropy decode —
    * the pixel data is DEFLATE/DCT-compressed and decompression is a codec
    * library's job) for the two containers a real multimodal corpus
    * actually contains:
    *
    *  - PNG (8-byte signature, big-endian IHDR): width, height, bit depth,
    *    color type (→ channel count), interlace. Emits (width, height,
    *    n_frames=1) and feature `[w, h, bitDepth, channels, colorType,
    *    interlace, 0, 0]`.
    *  - JPEG/JFIF (`FF D8` SOI, marker walk to the first SOF0-SOF15
    *    frame header): precision, height, width, component count. Emits
    *    (width, height, n_frames=1) and feature `[w, h, precision,
    *    nComponents, progressive, 0, 0, 0]`.
    *
    * Truncated or malformed payloads — and every other format — fall back
    * to [[FakeCodec]], so a mixed asset table always decodes. */
  object ByteCodec extends Codec {
    def decode(a: RawAsset): DecodedAsset = {
      val b = a.payload
      val parsed =
        if (b == null) None
        else if (b.length > 2 && b(0) == 'P' && b(1) == '6') decodePpm(a, b)
        else if (b.length > 44 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE")
          decodeWav(a, b)
        else if (b.length > 28 && isPngSignature(b)) decodePng(a, b)
        else if (b.length > 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
          decodeJpeg(a, b)
        else None
      parsed.getOrElse(FakeCodec.decode(a))
    }

    private def tag(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    private def leShort(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def leInt(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def beShort(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    private def beInt(b: Array[Byte], o: Int): Int =
      ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

    private val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    private def isPngSignature(b: Array[Byte]): Boolean =
      (0 until 8).forall(i => (b(i) & 0xff) == pngSig(i))

    /** PNG IHDR: the signature is followed by the mandatory first chunk
      * `len=13 "IHDR" width height bitDepth colorType compression filter
      * interlace` (all multi-byte fields big-endian). Header-level only —
      * the IDAT pixel stream is zlib-compressed and stays opaque here. */
    private def decodePng(a: RawAsset, b: Array[Byte]): Option[DecodedAsset] = {
      if (beInt(b, 8) != 13 || tag(b, 12) != "IHDR") return None
      val w = beInt(b, 16)
      val h = beInt(b, 20)
      val bitDepth = b(24) & 0xff
      val colorType = b(25) & 0xff
      val interlace = b(28) & 0xff
      val channels = colorType match {
        case 0 => 1 // grayscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette index
        case 4 => 2 // gray + alpha
        case 6 => 4 // truecolor + alpha
        case _ => -1
      }
      val depthOk = Set(1, 2, 4, 8, 16)(bitDepth)
      if (w <= 0 || h <= 0 || channels < 0 || !depthOk || interlace > 1) None
      else Some(DecodedAsset(a.asset_id, a.modality, width = w, height = h,
        n_frames = 1,
        feature = Array(w.toFloat, h.toFloat, bitDepth.toFloat,
          channels.toFloat, colorType.toFloat, interlace.toFloat, 0f, 0f)))
    }

    /** JPEG frame header: walk the marker stream from SOI to the first
      * SOFn (`FF C0`-`FF CF` minus the non-frame C4/C8/CC) and read
      * `precision height width nComponents`. Markers carry a big-endian
      * self-inclusive length; D0-D7/01 are standalone; scan data (post-SOS)
      * is never entered — dimensions always precede it. */
    private def decodeJpeg(a: RawAsset, b: Array[Byte]): Option[DecodedAsset] = {
      var o = 2
      while (o + 4 <= b.length) {
        if ((b(o) & 0xff) != 0xff) return None // marker desync
        var m = b(o + 1) & 0xff
        while (m == 0xff && o + 2 < b.length) { o += 1; m = b(o + 1) & 0xff } // fill bytes
        if (m == 0xd9 || m == 0xda) return None // EOI/SOS before any SOF
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { o += 2 }
        else {
          if (o + 4 > b.length) return None
          val len = beShort(b, o + 2)
          if (len < 2 || o.toLong + 2L + len > b.length) return None
          val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof) {
            if (len < 8) return None
            val precision = b(o + 4) & 0xff
            val h = beShort(b, o + 5)
            val w = beShort(b, o + 7)
            val nComp = b(o + 9) & 0xff
            val progressive = if (m == 0xc2 || m == 0xc6 || m == 0xca || m == 0xce) 1 else 0
            return if (w <= 0 || h <= 0 || nComp < 1 || nComp > 4 ||
                       !Set(8, 12, 16)(precision)) None
            else Some(DecodedAsset(a.asset_id, a.modality, width = w,
              height = h, n_frames = 1,
              feature = Array(w.toFloat, h.toFloat, precision.toFloat,
                nComp.toFloat, progressive.toFloat, 0f, 0f, 0f)))
          }
          o += 2 + len
        }
      }
      None
    }

    private def decodePpm(a: RawAsset, b: Array[Byte]): Option[DecodedAsset] = {
      var i = 2
      def skipWs(): Unit = {
        var go = true
        while (go && i < b.length) {
          if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
          else if (Character.isWhitespace(b(i))) i += 1
          else go = false
        }
      }
      def nextInt(): Option[Int] = {
        skipWs()
        val s = i
        while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
        // > 9 digits can't be a sane header field — malformed, not a crash
        if (i > s && i - s <= 9) Some(new String(b, s, i - s).toInt) else None
      }
      for {
        w <- nextInt(); h <- nextInt(); mv <- nextInt()
        if w > 0 && h > 0 && mv > 0 && mv < 256
        data = i + 1 // exactly one whitespace byte after maxval
        // Long arithmetic: 3·w·h overflows Int already at 27k×27k, which
        // would slip a crafted header past the truncation guard
        if b.length.toLong >= data.toLong + 3L * w * h
      } yield {
        var (r, g, bl) = (0L, 0L, 0L)
        var p = data
        val end = data + 3 * w * h
        while (p < end) {
          r += b(p) & 0xff; g += b(p + 1) & 0xff; bl += b(p + 2) & 0xff
          p += 3
        }
        val n = (w.toLong * h).toDouble
        DecodedAsset(a.asset_id, a.modality, width = w, height = h, n_frames = 1,
          feature = Array((r / n / mv).toFloat, (g / n / mv).toFloat,
            (bl / n / mv).toFloat, w.toFloat, h.toFloat, mv.toFloat, 3f, 1f))
      }
    }

    private def decodeWav(a: RawAsset, b: Array[Byte]): Option[DecodedAsset] = {
      var fmt = Option.empty[(Int, Int, Int, Int)] // format, ch, rate, bits
      var data = Option.empty[(Int, Int)]          // offset, size
      var o = 12
      while (o + 8 <= b.length) {
        val id = tag(b, o)
        val size = leInt(b, o + 4)
        // Long arithmetic: a crafted size near Int.MaxValue would wrap the
        // bound negative and walk the reader off the array
        if (size < 0 || o.toLong + 8L + size > b.length) return None
        if (id == "fmt " && size >= 16)
          fmt = Some((leShort(b, o + 8), leShort(b, o + 10),
            leInt(b, o + 12), leShort(b, o + 22)))
        if (id == "data") data = Some((o + 8, size))
        o += 8 + size + (size & 1) // chunks are word-aligned
      }
      for {
        (format, ch, rate, bits) <- fmt
        (off, size) <- data
        if format == 1 && bits == 16 && ch > 0 && rate > 0 // integer PCM only
      } yield {
        val frame = ch * 2
        val nSamples = size / frame
        val sums = new Array[Long](math.min(ch, 8))
        var s = 0
        while (s < nSamples) {
          var c = 0
          while (c < sums.length) {
            sums(c) += math.abs(leShort(b, off + s * frame + c * 2).toShort.toLong)
            c += 1
          }
          s += 1
        }
        DecodedAsset(a.asset_id, a.modality, width = rate, height = ch,
          n_frames = nSamples,
          feature = Array.tabulate(8)(c =>
            if (c < sums.length && nSamples > 0)
              (sums(c).toDouble / nSamples / 32768.0).toFloat
            else 0f))
      }
    }
  }

  /** Deterministic REAL container payload for an asset id — the driver
    * testdata has no binary media table, so the decode gate synthesizes one:
    * id cycles through the four containers [[ByteCodec]] genuinely parses
    * (PPM P6 / WAV PCM / PNG / JPEG), with dimensions derived from the id so
    * an oracle can restate the expected decode arithmetically. Each payload
    * is spec-valid for its container (PNG chunks carry real CRCs; JPEG is a
    * well-formed SOI→SOF0→EOI marker stream). */
  def syntheticContainerPayload(id: Long): (String, Array[Byte]) = {
    val w = (1 + id % 13).toInt
    val h = (1 + id % 7).toInt
    (id % 4) match {
      case 0 =>
        val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
        val px = Array.tabulate(3 * w * h)(i => ((id + i) % 256).toByte)
        ("ppm", header ++ px)
      case 1 =>
        val ch = (1 + id % 2).toInt
        val n = (1 + id % 5).toInt
        val dataSize = n * ch * 2
        val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(ch.toShort).putInt(8000)
          .putInt(8000 * ch * 2).putShort((ch * 2).toShort).putShort(16)
          .put("data".getBytes("US-ASCII")).putInt(dataSize)
        (0 until n * ch).foreach(i => bb.putShort(((id + i) % 1000).toShort))
        ("wav", bb.array())
      case 2 =>
        def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
          val tb = typ.getBytes("US-ASCII")
          val crc = new java.util.zip.CRC32
          crc.update(tb); crc.update(body)
          java.nio.ByteBuffer.allocate(12 + body.length)
            .putInt(body.length).put(tb).put(body)
            .putInt(crc.getValue.toInt).array()
        }
        val ihdr = java.nio.ByteBuffer.allocate(13)
          .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
          .put(0.toByte).put(0.toByte).put(0.toByte).array()
        ("png", Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
          .map(_.toByte) ++ chunk("IHDR", ihdr) ++ chunk("IEND", Array.empty))
      case _ =>
        val sof = java.nio.ByteBuffer.allocate(13)
          .put(0xff.toByte).put(0xc0.toByte).putShort(11)
          .put(8.toByte).putShort(h.toShort).putShort(w.toShort)
          .put(1.toByte).put(0x11.toByte).put(0.toByte).array()
        ("jpeg", Array(0xff, 0xd8).map(_.toByte) ++ sof ++
          Array(0xff, 0xd9).map(_.toByte))
    }
  }

  final case class PngPixels(asset_id: Long, width: Int, height: Int,
                             r_sum: Long, g_sum: Long, b_sum: Long,
                             wsum: Long)

  /** Spec-valid FULL PNG (8-bit truecolor) whose pixel bytes are the
    * construction sequence `(id + i) % 256` (i = row-major interleaved byte
    * index): every scanline is REALLY filtered (filter type = row % 5, so
    * None/Sub/Up/Average/Paeth all occur in any image with ≥ 5 rows), the
    * filtered stream is zlib-deflated, split across TWO IDAT chunks when
    * `id % 3 == 0` (multi-chunk concatenation is part of the format), and
    * every chunk carries its real CRC-32. `corrupt = true` flips the first
    * IDAT body byte AFTER the CRC was computed — a decoder that skips CRC
    * verification decodes garbage instead of quarantining. */
  def syntheticPngPixelPayload(id: Long, corrupt: Boolean = false): Array[Byte] = {
    val w = (1 + id % 13).toInt
    val h = (1 + id % 7).toInt
    val raw = Array.tabulate(3 * w * h)(i => ((id + i) % 256).toByte)
    val out = pngEncodeRgb(w, h, raw, splitIdat = id % 3 == 0)
    // first IDAT body byte sits after sig(8) + IHDR chunk(25) + len+type(8)
    if (corrupt) out(8 + 25 + 8) = (out(8 + 25 + 8) ^ 0x55).toByte
    out
  }

  /** Spec-valid PNG ENCODER for arbitrary 8-bit truecolor pixels: every
    * scanline really filtered (filter type = row % 5, so all five types
    * occur in any image with ≥ 5 rows), zlib-deflated, optionally split
    * across two IDAT chunks, real CRC-32 on every chunk. The inverse of
    * [[decodePngPixels]]' profile — what lets a catalog row round-trip
    * REAL pixel content (the photo fixture) through the real decoder. */
  def pngEncodeRgb(w: Int, h: Int, raw: Array[Byte],
                   splitIdat: Boolean = false): Array[Byte] = {
    require(raw.length == 3 * w * h,
      s"rgb payload must be 3*w*h = ${3 * w * h} bytes, got ${raw.length}")
    val stride = 3 * w
    val filtered = new Array[Byte](h * (1 + stride))
    for (r <- 0 until h) {
      val ft = r % 5
      filtered(r * (1 + stride)) = ft.toByte
      for (x <- 0 until stride) {
        val cur = raw(r * stride + x) & 0xff
        val left = if (x >= 3) raw(r * stride + x - 3) & 0xff else 0
        val up = if (r > 0) raw((r - 1) * stride + x) & 0xff else 0
        val ul = if (r > 0 && x >= 3) raw((r - 1) * stride + x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paethPredictor(left, up, ul)
        }
        filtered(r * (1 + stride) + 1 + x) = ((cur - pred) & 0xff).toByte
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filtered); defl.finish()
    val zOut = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) zOut.write(buf, 0, defl.deflate(buf))
    defl.end()
    val z = zOut.toByteArray
    def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(tb); crc.update(body)
      java.nio.ByteBuffer.allocate(12 + body.length)
        .putInt(body.length).put(tb).put(body)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(2.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val split = if (splitIdat) math.min(7, z.length) else z.length
    val idats = chunk("IDAT", z.take(split)) ++
      (if (split < z.length) chunk("IDAT", z.drop(split)) else Array.empty[Byte])
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++ chunk("IHDR", ihdr) ++ idats ++
      chunk("IEND", Array.empty[Byte])
  }

  private def paethPredictor(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** FULL PNG pixel decode — the real path, no stand-ins: CRC-verified
    * chunk walk, multi-IDAT zlib stream concatenation, `Inflater`
    * decompression, and per-scanline UNFILTERING of all five PNG filter
    * types (None/Sub/Up/Average/Paeth, bpp=3). Supports the 8-bit
    * truecolor non-interlaced profile the synthetic corpus emits; anything
    * else — and any CRC mismatch, inflate error, or short pixel stream —
    * quarantines to None, never a crash. Emits exact integer per-channel
    * sums plus a position-weighted sum Σ (i+1)·vᵢ that pins BYTE ORDER
    * (channel sums alone are permutation-blind), so the oracle's
    * construction-arithmetic restatement catches filter/offset/stride bugs. */
  def decodePngPixels(a: RawAsset): Option[PngPixels] =
    pngRgbOf(a.payload).map { case (w, h, raw) =>
      var rs = 0L; var gs = 0L; var bs = 0L; var ws = 0L
      var i = 0
      while (i < raw.length) {
        val v = raw(i).toLong
        (i % 3) match { case 0 => rs += v; case 1 => gs += v; case _ => bs += v }
        ws += (i + 1) * v
        i += 1
      }
      PngPixels(a.asset_id, w, h, rs, gs, bs, ws)
    }

  /** The decode itself: (width, height, row-major interleaved RGB values)
    * — shared by the sum-reducing catalog surface above and the
    * pixel-consuming perceptual hash ([[imageDHashDecoded]]). */
  private[ext] def pngRgbOf(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (b == null || b.length < 8 + 25 ||
      !(0 until 8).forall(i => (b(i) & 0xff) == sig(i))) return None
    def beInt(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    var w = -1; var h = -1; var depth = -1; var color = -1; var interlace = -1
    val idat = new java.io.ByteArrayOutputStream()
    var o = 8
    var done = false
    while (!done) {
      if (o + 12 > b.length) return None
      val len = beInt(o)
      if (len > Int.MaxValue - 12 || o + 12 + len > b.length) return None
      val typ = new String(b, o + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32
      crc.update(b, o + 4, 4 + len.toInt)
      if (crc.getValue != beInt(o + 8 + len.toInt)) return None // CRC mismatch
      typ match {
        case "IHDR" =>
          if (len != 13) return None
          w = beInt(o + 8).toInt; h = beInt(o + 12).toInt
          depth = b(o + 16) & 0xff; color = b(o + 17) & 0xff
          interlace = b(o + 20) & 0xff
        case "IDAT" => idat.write(b, o + 8, len.toInt)
        case "IEND" => done = true
        case _ => () // ancillary chunks skipped (CRC still verified)
      }
      o += 12 + len.toInt
    }
    if (w <= 0 || h <= 0 || depth != 8 || color != 2 || interlace != 0) return None
    // Header w/h are unchecked 31-bit values from the wire: bound each
    // DIMENSION first (2^26 keeps every product below 2^54, so the Long
    // arithmetic below cannot itself overflow — w = h = 2^31-1 would wrap
    // h·(1+3w) negative and sail past a size-only guard), then quarantine
    // anything past a sane decode size. The contract is None, never a throw.
    if (w > (1 << 26) || h > (1 << 26)) return None
    val strideL = 3L * w
    val expectedL = h * (1L + strideL)
    if (expectedL > (1L << 28)) return None // implausible decode size: quarantine
    val stride = strideL.toInt
    val expected = expectedL.toInt
    val filtered = new Array[Byte](expected)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var got = 0
      while (got < expected && !inf.finished()) {
        val n = inf.inflate(filtered, got, expected - got)
        // n == 0 with no appetite for more input covers both a truncated
        // stream (needsInput) and a preset-dictionary header (needsDictionary,
        // spec-invalid inside PNG) — either way bail, or the loop spins forever.
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        got += n
      }
      if (got < expected) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    val raw = new Array[Int](stride * h)
    for (r <- 0 until h) {
      val ft = filtered(r * (1 + stride)) & 0xff
      if (ft > 4) return None
      for (x <- 0 until stride) {
        val v = filtered(r * (1 + stride) + 1 + x) & 0xff
        val left = if (x >= 3) raw(r * stride + x - 3) else 0
        val up = if (r > 0) raw((r - 1) * stride + x) else 0
        val ul = if (r > 0 && x >= 3) raw((r - 1) * stride + x - 3) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paethPredictor(left, up, ul)
        }
        raw(r * stride + x) = (v + pred) & 0xff
      }
    }
    Some((w, h, raw))
  }

  // ---- Baseline JPEG (ITU-T T.81) pixel decode ---------------------------

  final case class JpegPixels(asset_id: Long, width: Int, height: Int,
                              n_blocks: Int, px_sum: Long, wsum: Long)

  /** 13-bit fixed-point half-cosine basis `A(u,k) = round(2^13 · C(u) ·
    * cos((2k+1)uπ/16) / 2)` with `C(0)=1/√2` (the DCT-II normalization of
    * T.81 §A.3.3): the separable weight of DCT coefficient (v,u) at sample
    * (x,y) is `A(u,x)·A(v,y)` at scale 2^26, so the whole IDCT is exact
    * Long arithmetic — which is what lets the DuckDB oracle restate the
    * decode to the digit. Public constants; shared with the oracle SQL
    * (interpolated from this array — single source of truth). */
  val JpegBasisA: Array[Array[Int]] = Array(
    Array(2896, 2896, 2896, 2896, 2896, 2896, 2896, 2896),
    Array(4017, 3406, 2276, 799, -799, -2276, -3406, -4017),
    Array(3784, 1567, -1567, -3784, -3784, -1567, 1567, 3784),
    Array(3406, -799, -4017, -2276, 2276, 4017, 799, -3406),
    Array(2896, -2896, -2896, 2896, 2896, -2896, -2896, 2896),
    Array(2276, -4017, 799, 3406, -3406, -799, 4017, -2276),
    Array(1567, -3784, 3784, -1567, -1567, 3784, -3784, 1567),
    Array(799, -2276, 3406, -4017, 4017, -3406, 2276, -799))

  /** Zigzag scan order (T.81 Figure A.6): natural index (v·8+u) of each
    * zigzag position. */
  private val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K.3.1 typical luminance DC table: code-length counts (1..16)
    * and the symbols in code order. Public spec data. */
  private val JpegDcBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val JpegDcVals: Array[Int] = (0 to 11).toArray

  /** Annex K.3.2 typical luminance AC table. */
  private val JpegAcBits: Array[Int] =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val JpegAcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Canonical Huffman codes from a (BITS, HUFFVAL) spec pair — the
    * generation procedure of T.81 §C.2. Returns symbol → (code, length). */
  private def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0; var vi = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    for (len <- 1 to 16) {
      for (_ <- 0 until bits(len - 1)) {
        out += vals(vi) -> (code, len); code += 1; vi += 1
      }
      code <<= 1
    }
    out.result()
  }

  /** Spec-valid baseline JFIF (grayscale, Annex K Huffman tables) whose
    * decode is exactly restatable by construction arithmetic: block b of
    * asset id carries DC value `((id·5 + b·11) % 201) − 100` (entropy-coded
    * as a REAL DC difference chain) and one AC coefficient
    * `((id + 3b) % 31) − 15` at zigzag position `1 + b % 3`; the quant
    * table is `1 + (id + k) % 7` by zigzag index k. Dimensions
    * `w = 8 + id % 23, h = 8 + id % 13` make 1–12 MCUs with genuine
    * right/bottom edge cropping. The stream is a full marker sequence
    * (SOI, APP0/JFIF, DQT, SOF0, DHT×2, SOS, entropy-coded data with
    * 0xFF→0xFF00 byte stuffing, EOI). `corrupt = true` drops the entropy
    * bytes (a truncated-in-flight payload): a decoder must quarantine,
    * never emit a half-decoded row. */
  def syntheticJpegPixelPayload(id: Long, corrupt: Boolean = false): Array[Byte] = {
    val w = (8 + id % 23).toInt
    val h = (8 + id % 13).toInt
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    val dcC = huffCodes(JpegDcBits, JpegDcVals)
    val acC = huffCodes(JpegAcBits, JpegAcVals)
    // entropy-coded segment with byte stuffing
    val ent = new java.io.ByteArrayOutputStream()
    var acc = 0; var nbits = 0
    def putBits(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); nbits += 1
        if (nbits == 8) {
          ent.write(acc)
          if (acc == 0xff) ent.write(0x00) // byte stuffing (T.81 §B.1.1.5)
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def putMagnitude(v: Int, s: Int): Unit =
      if (s > 0) putBits(if (v < 0) v + (1 << s) - 1 else v, s)
    def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    var prevDc = 0
    for (b <- 0 until bw * bh) {
      val dc = (((id * 5 + b * 11) % 201) - 100).toInt
      val diff = dc - prevDc; prevDc = dc
      val s = category(diff)
      val (c, l) = dcC(s); putBits(c, l); putMagnitude(diff, s)
      val av = (((id + 3 * b) % 31) - 15).toInt
      val z = 1 + b % 3
      if (av != 0) {
        val as = category(av)
        val (ac, al) = acC(((z - 1) << 4) | as)
        putBits(ac, al); putMagnitude(av, as)
        if (z < 63) { val (e, el) = acC(0x00); putBits(e, el) } // EOB
      } else { val (e, el) = acC(0x00); putBits(e, el) }
    }
    if (nbits > 0) { // pad the final byte with 1-bits (§F.1.2.3)
      acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      ent.write(acc); if (acc == 0xff) ent.write(0x00)
    }
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def segment(m: Int, body: Array[Int]): Unit = {
      marker(m); val len = body.length + 2
      out.write(len >> 8); out.write(len & 0xff); body.foreach(out.write)
    }
    marker(0xd8) // SOI
    segment(0xe0, Array('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    segment(0xdb, 0 +: Array.tabulate(64)(k => (1 + (id + k) % 7).toInt)) // DQT, zigzag
    segment(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0))
    segment(0xc4, 0x00 +: (JpegDcBits ++ JpegDcVals))
    segment(0xc4, 0x10 +: (JpegAcBits ++ JpegAcVals))
    segment(0xda, Array(1, 1, 0x00, 0, 63, 0))
    if (!corrupt) out.write(ent.toByteArray)
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** FULL baseline-JPEG pixel decode — the real path, no stand-ins: marker
    * walk (APPn/COM skipped by length), DQT/DHT table parsing with
    * canonical-Huffman decode tables, SOS entropy decode (bit reader with
    * 0xFF00 unstuffing and RSTn handling), DC-difference chain with the
    * §F.2.2.1 EXTEND, run-length AC decode (EOB/ZRL), per-coefficient
    * dequantize + de-zigzag, and the exact-integer direct IDCT over
    * [[JpegBasisA]] with level shift + clamp and MCU edge cropping.
    * Supports the 8-bit single-component baseline profile the synthetic
    * corpus emits; progressive/multi-component frames, missing tables,
    * truncated entropy data, or any invalid code quarantine to None,
    * never a crash. Emits exact pixel sum + the position-weighted sum
    * Σ (i+1)·vᵢ that pins pixel ORDER, so a block-placement, zigzag,
    * predictor, or cropping bug hash-fails against the oracle. */
  def decodeJpegPixels(a: RawAsset): Option[JpegPixels] =
    jpegGrayOf(a.payload).map { case (w, h, px, nBlocks) =>
      var ps = 0L; var ws = 0L
      var i = 0
      while (i < px.length) { ps += px(i); ws += (i + 1).toLong * px(i); i += 1 }
      JpegPixels(a.asset_id, w, h, nBlocks, ps, ws)
    }

  /** The decode itself: (width, height, row-major luma samples, block
    * count) — shared by the sum-reducing catalog surface above and the
    * pixel-consuming perceptual hash ([[imageDHashDecoded]]). */
  private[ext] def jpegGrayOf(b: Array[Byte])
      : Option[(Int, Int, Array[Int], Int)] = {
    if (b == null || b.length < 4 ||
      (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var o = 2
    var w = -1; var h = -1
    val quant = new Array[Array[Int]](4) // by table id, zigzag order
    // decode tables: (maxcode, valptr, mincode) per length, plus symbols
    final case class HuffTable(minCode: Array[Int], maxCode: Array[Int],
                               valPtr: Array[Int], vals: Array[Int])
    def buildDecode(bits: Array[Int], vals: Array[Int]): HuffTable = {
      val minC = new Array[Int](17); val maxC = new Array[Int](17)
      val ptr = new Array[Int](17)
      var code = 0; var vi = 0
      for (len <- 1 to 16) {
        ptr(len) = vi; minC(len) = code
        maxC(len) = if (bits(len - 1) == 0) -1 else code + bits(len - 1) - 1
        code = (code + bits(len - 1)) << 1; vi += bits(len - 1)
      }
      HuffTable(minC, maxC, ptr, vals)
    }
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var sofSeen = false; var qId = -1
    var sosAt = -1; var ri = 0
    while (sosAt < 0) {
      if (o + 4 > b.length) return None
      if ((b(o) & 0xff) != 0xff) return None
      var m = b(o + 1) & 0xff; o += 2
      while (m == 0xff && o < b.length) { m = b(o) & 0xff; o += 1 } // fill bytes
      if (m == 0xd9) return None // EOI before SOS: no image data
      if (o + 2 > b.length) return None // fill bytes ran past the length field
      val len = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
      if (len < 2 || o + len > b.length) return None
      val end = o + len
      var p = o + 2
      m match {
        case 0xc0 => // SOF0 baseline
          if (len < 11 || (b(p) & 0xff) != 8) return None
          h = ((b(p + 1) & 0xff) << 8) | (b(p + 2) & 0xff)
          w = ((b(p + 3) & 0xff) << 8) | (b(p + 4) & 0xff)
          if ((b(p + 5) & 0xff) != 1) return None // single-component profile
          if ((b(p + 7) & 0xff) != 0x11) return None // no subsampling
          qId = b(p + 8) & 0xff
          if (qId > 3) return None // quant selector out of the spec's 0..3
          sofSeen = true
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          return None // extended/progressive/lossless: out of profile
        case 0xdb => // DQT: one or more tables per segment
          while (p < end) {
            val pq = (b(p) & 0xff) >> 4; val tq = b(p) & 0x0f
            if (pq != 0 || tq > 3 || p + 65 > end) return None // 8-bit, ids 0..3
            quant(tq) = Array.tabulate(64)(k => b(p + 1 + k) & 0xff)
            p += 65
          }
        case 0xc4 => // DHT: one or more tables per segment
          while (p < end) {
            val tc = (b(p) & 0xff) >> 4; val th = b(p) & 0x0f
            if (tc > 1 || th > 3 || p + 17 > end) return None
            val bits = Array.tabulate(16)(i => b(p + 1 + i) & 0xff)
            val n = bits.sum
            if (p + 17 + n > end || n > 256) return None
            val vals = Array.tabulate(n)(i => b(p + 17 + i) & 0xff)
            val t = buildDecode(bits, vals)
            if (tc == 0) dcTables(th) = t else acTables(th) = t
            p += 17 + n
          }
        case 0xdd => // DRI: restart interval in MCUs
          if (len != 4) return None
          ri = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
        case 0xda => // SOS: single scan, then entropy data
          if (len < 8 || (b(p) & 0xff) != 1) return None
          val td = (b(p + 2) & 0xff) >> 4; val ta = b(p + 2) & 0x0f
          if (td > 3 || ta > 3) return None
          if (!sofSeen || quant(qId) == null ||
            dcTables(td) == null || acTables(ta) == null) return None
          sosAt = end
          o = -1 // consumed below
          // stash chosen tables in slot 0 for the scan loop
          dcTables(0) = dcTables(td); acTables(0) = acTables(ta)
        case _ => () // APPn / COM etc.: skip by length
      }
      if (sosAt < 0) o = end
    }
    if (w <= 0 || h <= 0 || w > (1 << 12) || h > (1 << 12)) return None
    val q = quant(qId)
    val bw = (w + 7) / 8; val bh = (h + 7) / 8
    // entropy bit reader over [sosAt, …): FF00 unstuffing; any bare marker
    // ends the data (RSTn are consumed proactively at interval boundaries
    // below, never here — lazy RST discovery would feed pad bits as data)
    var bp = sosAt; var bitBuf = 0; var bitCnt = 0; var dataEnd = false
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (dataEnd || bp >= b.length) return -1
        val v = b(bp) & 0xff; bp += 1
        if (v == 0xff) {
          val nx = if (bp < b.length) b(bp) & 0xff else -1
          if (nx == 0x00) bp += 1 // stuffed FF
          else { dataEnd = true; return -1 } // EOI or next marker
        }
        bitBuf = v; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def huffDecode(t: HuffTable): Int = {
      var code = 0
      var len = 0
      while (len < 16) {
        val bit = nextBit()
        if (bit < 0) return -1
        code = (code << 1) | bit; len += 1
        if (t.maxCode(len) >= 0 && code <= t.maxCode(len))
          return t.vals(t.valPtr(len) + code - t.minCode(len))
      }
      -1
    }
    def receive(s: Int): Int = {
      var v = 0; var i = 0
      while (i < s) {
        val bit = nextBit()
        if (bit < 0) return Int.MinValue
        v = (v << 1) | bit; i += 1
      }
      v
    }
    def extend(v: Int, s: Int): Int = // §F.2.2.1
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    val px = new Array[Int](w * h)
    val coef = new Array[Long](64) // natural order, dequantized
    var dcPred = 0
    for (blk <- 0 until bw * bh) {
      if (ri > 0 && blk > 0 && blk % ri == 0) { // §F.2.1.3.1: expect RSTm
        bitCnt = 0 // discard pad bits to the byte boundary
        if (bp + 1 >= b.length || (b(bp) & 0xff) != 0xff) return None
        val mk = b(bp + 1) & 0xff
        if (mk != 0xd0 + ((blk / ri - 1) % 8)) return None
        bp += 2; dcPred = 0
      }
      java.util.Arrays.fill(coef, 0L)
      val s = huffDecode(dcTables(0))
      if (s < 0 || s > 15) return None
      val raw = receive(s)
      if (raw == Int.MinValue) return None
      dcPred += extend(raw, s)
      coef(0) = dcPred.toLong * q(0)
      var k = 1
      var eob = false
      while (k <= 63 && !eob) {
        val rs = huffDecode(acTables(0))
        if (rs < 0) return None
        val r = rs >> 4; val sz = rs & 15
        if (sz == 0) {
          if (r == 15) k += 16 else eob = true // ZRL vs EOB
        } else {
          k += r
          if (k > 63) return None
          val rv = receive(sz)
          if (rv == Int.MinValue) return None
          coef(JpegZigzag(k)) = extend(rv, sz).toLong * q(k)
          k += 1
        }
      }
      // exact-integer direct IDCT + level shift + clamp, cropped to image
      val bx0 = (blk % bw) * 8; val by0 = (blk / bw) * 8
      var y = 0
      while (y < 8 && by0 + y < h) {
        var x = 0
        while (x < 8 && bx0 + x < w) {
          var accum = 0L
          var n = 0
          while (n < 64) {
            val c = coef(n)
            if (c != 0L)
              accum += c * JpegBasisA(n & 7)(x) * JpegBasisA(n >> 3)(y)
            n += 1
          }
          val v = 128 + ((accum + (1L << 25)) >> 26)
          px((by0 + y) * w + bx0 + x) =
            if (v < 0) 0 else if (v > 255) 255 else v.toInt
          x += 1
        }
        y += 1
      }
    }
    Some((w, h, px, bw * bh))
  }

  final case class ImageHash(asset_id: Long, width: Int, height: Int,
                             dhash: Long)

  /** Deterministic 32×16 P6 "photo": an integer wave texture whose
    * STRUCTURE depends on the seed — the parabola's x-offset and the moiré
    * phase shift per scene (base = (7·seed + (x + seed mod 13)² + 3·y +
    * 5·((x·(y + seed mod 7)) mod 11)) mod 256; green/blue are +85/+170
    * channel rotations) — so different seeds give perceptually DIFFERENT
    * images (distinct dHash cell gradients), not one texture family with
    * a brightness shift. Optional `noise` adds a +noise checkerboard — the
    * re-encode jitter that makes two copies of one photo byte-different
    * but perceptually identical. Every quantity is exact integer
    * arithmetic, so an external oracle regenerates the pixels (and
    * everything computed from them) verbatim. */
  def syntheticPhotoPayload(seed: Long, noise: Int = 0): Array[Byte] =
    s"P6 32 16 255\n".getBytes("US-ASCII") ++ syntheticPhotoRgb(seed, noise)

  /** The photo's raw interleaved RGB (32×16×3 bytes) — the container-free
    * pixel content, so the SAME image can be wrapped as P6
    * ([[syntheticPhotoPayload]]) or PNG ([[pngEncodeRgb]]) and the two
    * must hash identically through their respective decoders. */
  def syntheticPhotoRgb(seed: Long, noise: Int = 0): Array[Byte] = {
    val w = 32; val h = 16
    val out = new java.io.ByteArrayOutputStream()
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val xo = x + (seed % 13)
        val base = java.lang.Math.floorMod(
          7L * seed + xo * xo + 3L * y +
            5L * ((x.toLong * (y + (seed % 7))) % 11), 256L).toInt
        val n = if (noise != 0 && (x + y) % 2 == 0) noise else 0
        out.write(java.lang.Math.floorMod(base + n, 256))
        out.write(java.lang.Math.floorMod(base + 85 + n, 256))
        out.write(java.lang.Math.floorMod(base + 170 + n, 256))
        x += 1
      }
      y += 1
    }
    out.toByteArray
  }

  /** PERCEPTUAL image fingerprint (dHash, the difference-hash family every
    * image-dedup pipeline runs before pixel-exact comparison — LAION-class
    * corpus dedup is built on exactly this): grayscale = (r+g+b) div 3,
    * box-downscale to a 9×8 grid (cell [lo, hi) bounds at (c·w) div 9 /
    * (r·h) div 8; cell value = exact integer mean, sum div count), then 64
    * bits — bit (r·8+c) set iff cell[r][c] > cell[r][c+1]. Every step is
    * integer-exact, so the hash restates bit-for-bit in an external engine.
    * Requires w ≥ 9 and h ≥ 8 (a cell would otherwise be empty) — smaller
    * images quarantine (no row), like every malformed-asset path here.
    * Works on the FIRST frame of a P6 stream. Scale shape: a pure per-row
    * projection (mapPartitions, constant memory); feed the fingerprints to
    * [[graft.ext.Dedup.hammingPairs64]] for the banded near-dup join. */
  def imageDHash(assets: Dataset[RawAsset]): Dataset[ImageHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      parsePpmStream(a.payload) match {
        case Some(frames) if frames.nonEmpty =>
          val (w, h, px) = frames.head
          if (w < 9 || h < 8) Iterator.empty
          else Iterator.single(
            ImageHash(a.asset_id, w, h, dhash64(w, h, grayOfRgbBytes(w, h, px))))
        case _ => Iterator.empty
      }
    })
  }

  /** Integer grayscale (r+g+b) div 3 over interleaved RGB bytes. */
  private def grayOfRgbBytes(w: Int, h: Int, px: Array[Byte]): Array[Int] = {
    val g = new Array[Int](w * h)
    var i = 0
    while (i < g.length) {
      g(i) = ((px(3 * i) & 0xff) + (px(3 * i + 1) & 0xff) +
        (px(3 * i + 2) & 0xff)) / 3
      i += 1
    }
    g
  }

  /** The dHash kernel over a grayscale grid (see [[imageDHash]] for the
    * law): 9×8 integer box-downscale, bit (r·8+c) ⟺ cell[r][c] >
    * cell[r][c+1]. Requires w ≥ 9, h ≥ 8. */
  private[ext] def dhash64(w: Int, h: Int, gray: Array[Int]): Long = {
    val cell = Array.ofDim[Long](8, 9)
    var r = 0
    while (r < 8) {
      val ylo = r * h / 8; val yhi = (r + 1) * h / 8
      var c = 0
      while (c < 9) {
        val xlo = c * w / 9; val xhi = (c + 1) * w / 9
        var sum = 0L; var n = 0L
        var y = ylo
        while (y < yhi) {
          var x = xlo
          while (x < xhi) {
            sum += gray(y * w + x); n += 1
            x += 1
          }
          y += 1
        }
        cell(r)(c) = sum / n
        c += 1
      }
      r += 1
    }
    var bits = 0L
    var rr = 0
    while (rr < 8) {
      var cc = 0
      while (cc < 8) {
        if (cell(rr)(cc) > cell(rr)(cc + 1))
          bits |= 1L << (rr * 8 + cc)
        cc += 1
      }
      rr += 1
    }
    bits
  }

  /** dHash over DECODED containers — the LAION-shaped path: a real corpus
    * ships PNG/JPEG, not PPM, so the perceptual hash must sit BEHIND the
    * real decoders. Container-sniffed per asset: PNG (full CRC-verified
    * inflate + unfilter via [[pngRgbOf]], grayscale (r+g+b) div 3),
    * baseline JPEG (full Huffman + dequant + exact-integer IDCT via
    * [[jpegGrayOf]] — single-component, already luma), or P6/PPM (first
    * frame). Same integer dHash law as [[imageDHash]], so a pixel-identical
    * image hashes IDENTICALLY regardless of container — the property the
    * mm_image_dhash_png gate checks (PNG round-trip == the oracle's
    * restatement of the raw pixel construction). Undecodable or sub-grid
    * assets quarantine (no row). Pure per-row projection, constant memory. */
  def imageDHashDecoded(assets: Dataset[RawAsset]): Dataset[ImageHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      grayPixelsOf(a.payload) match {
        case Some((w, h, g)) if w >= 9 && h >= 8 =>
          Iterator.single(ImageHash(a.asset_id, w, h, dhash64(w, h, g)))
        case _ => Iterator.empty
      }
    })
  }

  /** Container-sniffing grayscale decode: PNG signature → [[pngRgbOf]],
    * JPEG SOI → [[jpegGrayOf]], "P6" → first PPM frame; anything else (or
    * a failed decode) is None. */
  private[ext] def grayPixelsOf(b: Array[Byte])
      : Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 2) None
    else if ((b(0) & 0xff) == 0x89 && (b(1) & 0xff) == 0x50)
      pngRgbOf(b).map { case (w, h, raw) =>
        val g = new Array[Int](w * h)
        var i = 0
        while (i < g.length) {
          g(i) = (raw(3 * i) + raw(3 * i + 1) + raw(3 * i + 2)) / 3
          i += 1
        }
        (w, h, g)
      }
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      jpegGrayOf(b).map { case (w, h, px, _) => (w, h, px) }
    else if (b(0) == 'P'.toByte && b(1) == '6'.toByte)
      parsePpmStream(b).flatMap(_.headOption).map { case (w, h, px) =>
        (w, h, grayOfRgbBytes(w, h, px))
      }
    else None
  }

  /** Build an asset table from the documents table (payload = UTF-8 bytes of
    * the text) — the driver testdata has no binary table, so this supplies a
    * deterministic one with the right schema. */
  def assetsFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      col("text").cast("binary").as("payload"),
      struct(
        octet_length(col("text").cast("binary")).cast("long").as("bytes"),
        col("source").as("origin")).as("meta"))

  /** Decode assets per partition: the codec ships once per task closure,
    * heavyweight codec state belongs in a lazy field initialized on first
    * use per executor, and rows stream through the iterator — constant
    * memory, no driver involvement. */
  def decode(assets: Dataset[RawAsset],
             codec: Codec = ByteCodec): Dataset[DecodedAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // real impl: open codec / model session here, once per partition
      it.map(codec.decode)
    }
  }

  /** Convenience: DataFrame-in, DataFrame-out decode. */
  def decodeDF(assets: DataFrame, codec: Codec = ByteCodec): DataFrame = {
    import assets.sparkSession.implicits._
    decode(assets.select("asset_id", "modality", "payload").as[RawAsset],
      codec).toDF()
  }

  /** Sample every `everyN`-th fixed-size "frame" from video payloads — the
    * frame-extraction plumbing (split + posexplode); the byte-slicing stands
    * in for real frame decoding. One output row per sampled frame. */
  def frameSample(assets: DataFrame, frameBytes: Int = 16, everyN: Int = 2): DataFrame = {
    val nFrames = ceil(octet_length(col("payload")).cast("double") / frameBytes).cast("int")
    // empty/null payload ⇒ 0 frames ⇒ no rows — the naive
    // sequence(0, nFrames-1) would hit Spark's descending sequence(0,-1)
    // and fabricate a phantom frame
    val frames = when(nFrames >= 1, transform(
      sequence(lit(0), nFrames - 1),
      i => substring(col("payload"), (i * frameBytes + 1).cast("int"), lit(frameBytes))))
      .otherwise(array().cast("array<binary>"))
    assets
      .where(col("modality") === "video")
      .select(col("asset_id"), posexplode(frames))
      .toDF("asset_id", "frame_no", "frame")
      .where(col("frame_no") % everyN === 0)
  }

  /** Per-asset feature table via the typed decode path. */
  def featuresOf(assets: DataFrame, codec: Codec = ByteCodec): DataFrame =
    decodeDF(assets, codec).select(col("asset_id"), col("feature"))

  final case class Mp4Info(asset_id: Long, n_top_boxes: Int, n_traks: Int,
                           timescale: Long, duration: Long)

  /** Spec-valid minimal ISO-BMFF (MP4) payload: ftyp + a free box with an
    * id-derived pad + moov{mvhd(v0, id-derived timescale/duration) +
    * (1 + id%3) empty trak boxes}. Every size field is the real big-endian
    * box length, so a correct walker recovers exactly the constructed
    * geometry and a wrong one (endianness, offset, nesting) diverges. */
  def syntheticMp4Payload(id: Long): Array[Byte] = {
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      java.nio.ByteBuffer.allocate(8 + body.length)
        .putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body).array()
    val ftyp = box("ftyp", java.nio.ByteBuffer.allocate(12)
      .put("isom".getBytes("US-ASCII")).putInt(0x200)
      .put("iso2".getBytes("US-ASCII")).array())
    val free = box("free", new Array[Byte]((id % 5).toInt))
    val timescale = 1000L + id % 9000
    val duration = (id * 37) % 100000
    val mvhdBody = java.nio.ByteBuffer.allocate(100)
    mvhdBody.putInt(0)                    // version + flags
    mvhdBody.putInt(0).putInt(0)          // creation, modification
    mvhdBody.putInt(timescale.toInt).putInt(duration.toInt)
    val mvhd = box("mvhd", mvhdBody.array()) // zero-padded tail
    val traks = Array.fill((1 + id % 3).toInt)(box("trak", Array.empty[Byte]))
    ftyp ++ free ++ box("moov", mvhd ++ traks.flatten)
  }

  /** Real ISO-BMFF box walk: top-level (size, fourcc) boxes, then inside
    * `moov` the mvhd v0 timescale/duration (offsets 12/16 past the box
    * header: version+flags, creation, modification) and the trak count.
    * All three spec-valid size encodings are handled: compact 32-bit,
    * size==1 (64-bit largesize follows the fourcc — common for mdat),
    * and size==0 (box extends to the end of the enclosing scope).
    * Truncated/undersized boxes quarantine to None, never a crash. */
  def decodeMp4(a: RawAsset): Option[Mp4Info] = {
    val b = a.payload
    if (b == null || b.length < 8) return None
    var nTop = 0
    var nTrak = -1
    var timescale = -1L
    var duration = -1L
    var i = 0
    def beInt(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def beLong(o: Int): Long =
      (0 until 8).foldLeft(0L)((acc, k) => (acc << 8) | (b(o + k) & 0xffL))
    def fourcc(o: Int): String = new String(b, o + 4, 4, "US-ASCII")
    // (headerLen, boxSize) of the box at `o` within scope ending at `end`,
    // or null if malformed under any of the three size encodings
    def boxAt(o: Int, end: Int): (Int, Long) = beInt(o) match {
      case 1 => // 64-bit largesize after the fourcc; 16-byte header
        if (o + 16 > end) null
        else { val ls = beLong(o + 8); if (ls < 16 || o + ls > end) null else (16, ls) }
      case 0 => (8, (end - o).toLong) // to end of enclosing scope
      case s => if (s < 8 || o + s > end) null else (8, s)
    }
    while (i + 8 <= b.length) {
      val box = boxAt(i, b.length)
      if (box == null) return None
      val (hdr, size) = box
      nTop += 1
      if (fourcc(i) == "moov") {
        nTrak = 0
        var j = i + hdr
        val end = i + size.toInt
        while (j + 8 <= end) {
          val inner = boxAt(j, end)
          if (inner == null) return None
          val (ihdr, cs) = inner
          fourcc(j) match {
            case "mvhd" if cs >= ihdr + 20 && (b(j + ihdr) & 0xff) == 0 =>
              timescale = beInt(j + ihdr + 12)
              duration = beInt(j + ihdr + 16)
            case "trak" => nTrak += 1
            case _ => ()
          }
          j += cs.toInt
        }
      }
      i += size.toInt
    }
    if (nTrak < 0 || timescale < 0) None
    else Some(Mp4Info(a.asset_id, nTop, nTrak, timescale, duration))
  }

  final case class ResizedAsset(asset_id: Long, w_out: Int, h_out: Int,
                                n_sampled: Long, r_sum: Long, g_sum: Long,
                                b_sum: Long)

  /** Nearest-neighbor downsample over P6 PPM assets — the RESIZE stage of
    * an image-preprocessing pipeline, with the real byte walk: parse the
    * header, then read every `factor`-th pixel in both axes and keep the
    * per-channel sums as EXACT integers (so the result restates
    * cross-engine; a mean would be one float division away). Non-PPM or
    * malformed payloads emit no row — quarantine semantics, same as the
    * decode path. Same mapPartitions batch shape as [[decode]]: streaming
    * iterator, constant memory, a real resampler drops into `sampleOne`. */
  def resizePpm(assets: Dataset[RawAsset], factor: Int = 2): Dataset[ResizedAsset] = {
    require(factor >= 1, s"factor out of range: $factor")
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap(a => resizeOne(a, factor)))
  }

  private def resizeOne(a: RawAsset, factor: Int): Option[ResizedAsset] = {
    val b = a.payload
    if (b == null || b.length < 2 || b(0) != 'P' || b(1) != '6') return None
    var i = 2
    def skipWs(): Unit = {
      var go = true
      while (go && i < b.length) {
        if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (Character.isWhitespace(b(i))) i += 1
        else go = false
      }
    }
    def nextInt(): Option[Int] = {
      skipWs()
      val s = i
      while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
      if (i > s && i - s <= 9) Some(new String(b, s, i - s).toInt) else None
    }
    for {
      w <- nextInt(); h <- nextInt(); mv <- nextInt()
      if w > 0 && h > 0 && mv > 0 && mv < 256
      data = i + 1
      if b.length.toLong >= data.toLong + 3L * w * h
    } yield {
      var (r, g, bl) = (0L, 0L, 0L)
      var n = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = data + 3 * (y * w + x)
          r += b(p) & 0xff; g += b(p + 1) & 0xff; bl += b(p + 2) & 0xff
          n += 1
          x += factor
        }
        y += factor
      }
      ResizedAsset(a.asset_id, (w + factor - 1) / factor,
        (h + factor - 1) / factor, n, r, g, bl)
    }
  }

  /** Deterministic REAL audio fixture: a mono 16-bit PCM WAV whose samples
    * are an integer SQUARE WAVE — half-period `P = 2 + id%5`, amplitude
    * `A = 1000 + (id%100)·10`, `N = 64 + id%32` samples at 8 kHz:
    * `s_i = +A` when `(i div P)` is even, else `−A`. Square, not sine: the
    * construction stays pure integer arithmetic, so an oracle restates
    * every sample — and therefore every frame feature — exactly. */
  def syntheticAudioPayload(id: Long): Array[Byte] = {
    val p = (2 + id % 5).toInt
    val amp = (1000 + (id % 100) * 10).toInt
    val n = (64 + id % 32).toInt
    val dataSize = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000)
      .putInt(8000 * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    (0 until n).foreach(i =>
      bb.putShort(if ((i / p) % 2 == 0) amp.toShort else (-amp).toShort))
    bb.array()
  }

  /** Deterministic WAV "melody": 65 frames of 16 samples, frame f at
    * amplitude A(f) = 200 + md5_32("seed:f") mod 900 (the repo's portable
    * keyed-md5 convention — any linear-congruential contour collapses to
    * near-arithmetic frame steps shared across seeds, one contour family
    * for the whole corpus; the keyed hash gives per-seed pseudo-random
    * frame levels, i.e. genuinely different material), samples a period-2
    * square at ±gain·A(f).
    * `gain` is the LEVEL knob: scaling every sample by a positive constant
    * is the same recording played louder — the invariance
    * [[audioFingerprint]] is built on. Exact integer arithmetic throughout
    * (gain·A ≤ 2200 fits 16-bit PCM for gain ≤ 14). */
  /** First 32 bits of md5(x) as an unsigned long — equals
    * ('0x' || substr(md5(x), 1, 8))::BIGINT in DuckDB. Direct byte reads:
    * per-byte hex formatting measured ~20 µs/call, which at one call per
    * audio frame turned the melody synthesis into the bench row's whole
    * cost. */
  private def md5Head32(x: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  def syntheticMelodyPayload(seed: Long, gain: Int = 1,
                             frames: Int = 65, startFrame: Int = 0): Array[Byte] = {
    require(gain >= 1 && gain <= 14, s"gain out of PCM range: $gain")
    require(frames >= 1 && startFrame >= 0, s"bad frame range: $frames/$startFrame")
    val fs = 16
    val n = frames * fs
    val dataSize = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000)
      .putInt(8000 * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    // one hash per FRAME, not per sample: the contour is frame-constant.
    // startFrame shifts the contour's origin, so (seed, frames = n − k,
    // startFrame = k) is byte-for-byte the (seed, n)-recording with its
    // first k frames CUT — the trimmed-copy fixture.
    val amps = Array.tabulate(frames)(f =>
      200 + (md5Head32(s"$seed:${f + startFrame}") % 900L).toInt)
    (0 until n).foreach { i =>
      val v = gain * amps(i / fs) * (if (i % 2 == 0) 1 else -1)
      bb.putShort(v.toShort)
    }
    bb.array()
  }

  final case class AudioPrint(asset_id: Long, n_frames: Int, aprint: Long)

  /** PERCEPTUAL audio fingerprint — the energy-delta sign chain (the
    * Shazam/Chromaprint family's core trick, reduced to its engine-portable
    * skeleton): per 16-sample frame the short-term energy Σx², and bit f
    * set iff E(f+1) > E(f) over the first 65 COMPLETE frames. LEVEL
    * INVARIANT by construction: scaling every sample by a positive
    * constant scales every energy by its square, preserving every strict
    * comparison and every tie — a re-levelled copy of a recording
    * fingerprints IDENTICALLY (spec-pinned), while different material
    * diverges within a few frames. Exact integer arithmetic end to end,
    * so an external oracle restates every bit. Assets with fewer than 65
    * complete frames quarantine (no row). Feed to
    * [[graft.ext.Dedup.hammingPairs64]] for the banded near-dup join. */
  def audioFingerprint(assets: Dataset[RawAsset],
                       frameSize: Int = 16): Dataset[AudioPrint] = {
    require(frameSize >= 2, s"frameSize out of range: $frameSize")
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      wavSamplesMono(a.payload) match {
        case Some(samples) if samples.length >= 65 * frameSize =>
          val e = new Array[Long](65)
          var f = 0
          while (f < 65) {
            var j = 0; var acc = 0L
            while (j < frameSize) {
              val x = samples(f * frameSize + j).toLong
              acc += x * x; j += 1
            }
            e(f) = acc; f += 1
          }
          var bits = 0L
          var i = 0
          while (i < 64) {
            if (e(i + 1) > e(i)) bits |= 1L << i
            i += 1
          }
          Iterator.single(AudioPrint(a.asset_id, 65, bits))
        case _ => Iterator.empty
      }
    })
  }

  final case class AudioWindowPrint(asset_id: Long, window_no: Int,
                                    aprint: Long)

  /** SLIDING-WINDOW audio fingerprints — [[audioFingerprint]]'s one-print
    * law at every start position (stride 1): window w covers frames
    * w..w+64 and carries the 64 energy-delta sign bits of that span. This
    * is what makes matching TRIM-invariant on top of level-invariant: a
    * copy with its first k frames cut produces windows identical to the
    * source's shifted by k, so the offset-voting matcher
    * ([[videoNearDupShifted]] with posCol = "window_no", fpCol =
    * "aprint") recovers the pair at offset −k with exact (gain-cancelled)
    * zero-Hamming matches. Per-asset cost: one energy pass + one delta
    * array; one row per complete window (n_frames − 64). Assets shorter
    * than 65 complete frames quarantine. */
  def audioWindowPrints(assets: Dataset[RawAsset],
                        frameSize: Int = 16): Dataset[AudioWindowPrint] = {
    require(frameSize >= 2, s"frameSize out of range: $frameSize")
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      wavSamplesMono(a.payload) match {
        case Some(samples) if samples.length >= 65 * frameSize =>
          val nFrames = samples.length / frameSize
          val e = new Array[Long](nFrames)
          var f = 0
          while (f < nFrames) {
            var j = 0; var acc = 0L
            while (j < frameSize) {
              val x = samples(f * frameSize + j).toLong
              acc += x * x; j += 1
            }
            e(f) = acc; f += 1
          }
          // delta(f) = [E(f+1) > E(f)]; window w packs deltas w..w+63
          val delta = new Array[Boolean](nFrames - 1)
          var i = 0
          while (i < nFrames - 1) { delta(i) = e(i + 1) > e(i); i += 1 }
          (0 to nFrames - 65).iterator.map { w =>
            var bits = 0L
            var b = 0
            while (b < 64) {
              if (delta(w + b)) bits |= 1L << b
              b += 1
            }
            AudioWindowPrint(a.asset_id, w, bits)
          }
        case _ => Iterator.empty
      }
    })
  }

  final case class AudioFrame(asset_id: Long, frame_no: Int, n_samples: Int,
                              energy: Long, zcr: Int, peak: Int)

  /** Frame-level AUDIO FEATURE EXTRACTION over real decoded WAV bytes —
    * the classic first-line features behind voice-activity/silence
    * detection and level normalization: per frame of `frameSize` samples
    * (final partial frame kept), short-term energy `Σx²`, zero-crossing
    * count (strict sign flips — a zero sample breaks the run), and peak
    * `max|x|`. All EXACT integers, so the features restate cross-engine.
    *
    * The WAV parse is the real chunk walk (RIFF sanity, `fmt `/`data`
    * discovery, word-aligned sizes, little-endian 16-bit reads) — mono
    * integer PCM only; anything else quarantines (no row), the decode
    * path's convention. Same mapPartitions shape as [[decode]]: streaming
    * iterator, constant memory per task, one output row per frame. */
  def audioFrameFeatures(assets: Dataset[RawAsset],
                         frameSize: Int = 16): Dataset[AudioFrame] = {
    require(frameSize >= 2, s"frameSize out of range: $frameSize")
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      wavSamplesMono(a.payload) match {
        case None => Iterator.empty
        case Some(samples) =>
          samples.grouped(frameSize).zipWithIndex.map { case (fr, fi) =>
            var energy = 0L; var zcr = 0; var peak = 0
            var j = 0
            while (j < fr.length) {
              val x = fr(j)
              energy += x.toLong * x
              val ax = math.abs(x)
              if (ax > peak) peak = ax
              if (j > 0 && fr(j - 1) * x < 0) zcr += 1
              j += 1
            }
            AudioFrame(a.asset_id, fi, fr.length, energy, zcr, peak)
          }
      }
    })
  }

  /** Deterministic multi-frame video fixture: `n = 2 + id%3` consecutive
    * FULL P6 PPM images concatenated — the netpbm multi-image stream
    * convention, so each frame is a spec-valid image and the walk is real
    * header parsing, not an invented container. Frame `f`'s pixel byte
    * `p` (of `3·w·h`, w = 2 + id%4, h = 1 + id%3) is
    * `(id + f·7 + p) % 256` — pure integer construction the oracle
    * restates per byte. */
  def syntheticVideoPayload(id: Long): Array[Byte] = {
    val w = (2 + id % 4).toInt
    val h = (1 + id % 3).toInt
    val n = (2 + id % 3).toInt
    (0 until n).flatMap { f =>
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val px = Array.tabulate(3 * w * h)(p => ((id + f * 7 + p) % 256).toByte)
      (header ++ px).toSeq
    }.toArray
  }

  final case class FrameHash(asset_id: Long, frame_no: Int, width: Int,
                             height: Int, dhash: Long)

  /** Per-frame perceptual hash over a multi-image PPM stream — the video
    * near-dup primitive: a re-encoded/re-compressed copy of a clip is
    * byte-different per frame but each frame's dHash stays within a few
    * bits of the original's, so clip-level duplicates reduce to matching
    * frame-hash sequences ([[videoNearDupPairs]]). Same integer dHash law
    * as [[imageDHash]] per frame; sub-9×8 frames quarantine individually
    * (no row), malformed streams entirely. Pure per-row projection,
    * constant memory — one decoded frame in flight. */
  def videoDHashFrames(assets: Dataset[RawAsset]): Dataset[FrameHash] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      parsePpmStream(a.payload) match {
        case Some(frames) if frames.nonEmpty =>
          frames.iterator.zipWithIndex.collect {
            case ((w, h, px), i) if w >= 9 && h >= 8 =>
              FrameHash(a.asset_id, i, w, h,
                dhash64(w, h, grayOfRgbBytes(w, h, px)))
          }
        case _ => Iterator.empty
      }
    })
  }

  /** CLIP-level near-dup from per-frame hashes ([[videoDHashFrames]]
    * output, or any (asset_id, frame_no, dhash) frame): two clips pair
    * when at least `minFrac` of the shorter clip's frames match at the
    * SAME frame position within `maxHamming` bits — the aligned-sequence
    * form (re-encodes preserve frame order; for trimmed/shifted copies,
    * run the frame hashes through [[graft.ext.Dedup.hammingPairs64]]
    * unaligned instead and cluster). Candidates come from the banded
    * Hamming join WITHIN a frame position (8×8-bit bands — exact for
    * maxHamming ≤ 7 by pigeonhole, never all-pairs), so the exchange is
    * keyed on (frame_no, band, v) and skew is bounded by per-position
    * bucket occupancy. Output: (a_id, b_id, n_matched, matched_frac). */
  def videoNearDupPairs(frameHashes: DataFrame, maxHamming: Int = 6,
                        minFrac: Double = 0.5,
                        scope: CacheScope = null): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 8,
      s"banded candidates are exact only for maxHamming < 8 bands, got $maxHamming")
    // the frame-hash frame feeds the banded join (twice) AND the per-clip
    // frame counts — persist it, or an upstream decode re-runs per
    // consumer (the recompute pathology bandedHammingPairs guards)
    val fh = frameHashes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = fh.select(col("asset_id"), col("frame_no"),
        col("dhash"),
        Dedup.fpBands(col("dhash"), 8, 8).as(Seq("band", "v")))
    val a = banded.select(col("frame_no"), col("band"), col("v"),
      col("asset_id").as("a_id"), col("dhash").as("fp_a"))
    val b = banded.select(col("frame_no"), col("band"), col("v"),
      col("asset_id").as("b_id"), col("dhash").as("fp_b"))
    val frameMatches = a.join(b, Seq("frame_no", "band", "v"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("frame_no"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct() // a frame pair can agree on several bands
    val counts = fh.groupBy(col("asset_id"))
      .agg(count(lit(1)).as("n_frames"))
    val out = frameMatches.groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_matched"))
      .join(counts.select(col("asset_id").as("a_id"),
        col("n_frames").as("_na")), "a_id")
      .join(counts.select(col("asset_id").as("b_id"),
        col("n_frames").as("_nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("n_matched"),
        (col("n_matched").cast("double") /
          least(col("_na"), col("_nb")).cast("double")).as("matched_frac"))
      .where(col("matched_frac") >= minFrac)
    CacheScope.handOver(scope, out, fh)
  }

  /** SHIFT-INVARIANT clip near-dup — the trimmed-copy detector
    * [[videoNearDupPairs]]' aligned law misses: a clip whose first k
    * frames were cut matches its source frame-for-frame at one constant
    * OFFSET, not at equal positions. Frame hashes join WITHOUT position
    * alignment (banded on the hash value alone — same pigeonhole
    * exactness), each matching frame pair VOTES for its offset
    * (b_frame − a_frame), and a clip pair is emitted with its modal
    * offset when at least `minMatched` frames agree on that single shift
    * (ties break toward the smallest offset — deterministic).
    *
    * Scale shape: the exchange is keyed on (band, v) over frame hashes —
    * bounded by per-bucket occupancy like every banded join here; the
    * offset vote is one (a, b, offset) count + one (a, b) max, both
    * map-side-combining aggregations. Output: (a_id, b_id, offset,
    * n_matched). */
  def videoNearDupShifted(frameHashes: DataFrame, maxHamming: Int = 6,
                          minMatched: Int = 2,
                          scope: CacheScope = null,
                          idCol: String = "asset_id",
                          posCol: String = "frame_no",
                          fpCol: String = "dhash"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 8,
      s"banded candidates are exact only for maxHamming < 8 bands, got $maxHamming")
    require(minMatched >= 1, s"minMatched must be positive: $minMatched")
    // both join sides read the frame hashes — persist, or an upstream
    // decode runs twice (see videoNearDupPairs)
    val fh = frameHashes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = fh.select(col(idCol), col(posCol), col(fpCol),
        Dedup.fpBands(col(fpCol), 8, 8).as(Seq("band", "v")))
    val a = banded.select(col("band"), col("v"), col(idCol).as("a_id"),
      col(posCol).as("fa"), col(fpCol).as("fp_a"))
    val b = banded.select(col("band"), col("v"), col(idCol).as("b_id"),
      col(posCol).as("fb"), col(fpCol).as("fp_b"))
    val votes = a.join(b, Seq("band", "v"))
      .where(col("a_id") < col("b_id"))
      .where(bit_count(col("fp_a").bitwiseXOR(col("fp_b"))) <= maxHamming)
      .select(col("a_id"), col("b_id"), col("fa"), col("fb"),
        (col("fb") - col("fa")).as("offset"))
      .distinct() // a frame pair can agree on several bands
      .groupBy(col("a_id"), col("b_id"), col("offset"))
      .agg(count(lit(1)).as("n_matched"))
    // modal offset per pair, smallest-offset tie-break: one max over a
    // packed (count, -offset) struct — no second shuffle beyond the
    // (a, b) key
    val out = votes.groupBy(col("a_id"), col("b_id"))
      .agg(max(struct(col("n_matched"), (-col("offset")).as("_negoff")))
        .as("_best"))
      .select(col("a_id"), col("b_id"),
        (-col("_best").getField("_negoff")).cast("int").as("offset"),
        col("_best").getField("n_matched").as("n_matched"))
      .where(col("n_matched") >= minMatched)
    CacheScope.handOver(scope, out, fh)
  }

  /** The COMPOSED image-dedup recipe — decode → perceptual hash → banded
    * Hamming pairs → connected components → survivor census: every asset
    * labeled with its cluster representative (min id; singletons are their
    * own rep) and a survivor flag. This is the cluster-RESOLUTION step
    * pairwise dedup forgets: A≈B and B≈C must collapse to ONE survivor.
    * The fingerprint frame is persisted across its three consumers (pair
    * join sides + final census join). */
  def imageDedupSurvivors(assets: Dataset[RawAsset], maxHamming: Int = 6,
                          scope: CacheScope = null): DataFrame = {
    // the DECODED hash seam: container-sniffed PNG/JPEG/P6, so the recipe
    // rides the real decoders — P6 corpora hash identically to the old
    // imageDHash path (same pixel law), PNG/JPEG corpora now work
    val fp = imageDHashDecoded(assets).toDF()
      .select(col("asset_id"), col("dhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = graft.ext.Dedup.hammingPairs64(fp, "asset_id", "dhash",
      maxHamming, scope)
    // the dhash graph chains (noise-twin links compose across scenes —
    // measured diameter ≥ 25 at sf0.1); duplicateClusters resolves it in a
    // round count independent of that diameter (driver union-find, or
    // O(log n) star rounds past the driver budget)
    val cc = graft.ext.Dedup.duplicateClusters(pairs, scope = scope)
      .select(col("id").as("asset_id"), col("rep"))
    val out = fp.join(cc, Seq("asset_id"), "left")
      .select(col("asset_id"),
        coalesce(col("rep"), col("asset_id")).as("rep"),
        (coalesce(col("rep"), col("asset_id")) === col("asset_id"))
          .cast("int").as("survivor"))
    CacheScope.handOver(scope, out, fp)
  }

  /** The FULL LAION-shaped ingest loop, end to end: WebDataset tar walk →
    * real container decode ([[imageDHashDecoded]]) → probe of a SERVED
    * fingerprint store ("is this image already in the corpus", sidecar
    * family-checked via [[graft.ext.Dedup.fingerprintStoreOpen]]) →
    * intra-drop survivor resolution (banded Hamming pairs + connected
    * components) → [[graft.etl.Tar.writeWebdataset]] of the deduped
    * samples. This is the loop every stage gates individually — composed,
    * so one call ingests a drop of shards and ships the deduped corpus.
    *
    * Samples are the WebDataset contract (stem = the sample key, which
    * must parse as a LONG asset id; `imageExt`/`textExt` parts). A sample
    * whose image is missing, undecodable, or sub-grid quarantines (not
    * exported — the decode family's convention). A sample whose hash sits
    * within `maxHamming` of ANY served fingerprint is dropped (cross-drop
    * duplicate); the remainder resolves A≈B≈C chains to min-id survivors.
    *
    * Scale shape: every join is band-keyed or broadcast (the store
    * STREAMS through the probe's broadcast hash join; pairs are the
    * banded 8×8 geometry, exact ≤ 7 by pigeonhole); the export is the
    * member-streaming writer. The function is EAGER (the export happens
    * before it returns), so its interior persists release before return.
    * Returns the export census (shard_id, n_samples, md5). */
  def webdatasetDedupExport(shards: Dataset[RawAsset], servedStoreDir: String,
                            outDir: String, nShards: Int,
                            imageExt: String = "png", textExt: String = "txt",
                            storeFamily: String = "image-dhash-9x8",
                            maxHamming: Int = 6): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    val stemmed = graft.etl.Tar.webdatasetSamples(graft.etl.Tar.entries(shards))
      .select(col("stem"), col("stem").cast("long").as("asset_id"),
        element_at(col("parts"), imageExt).as("_img"),
        element_at(col("parts"), textExt).as("_txt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val samples = stemmed.where(col("asset_id").isNotNull)
      .drop("stem")
    try {
      // the stem contract is FAIL-LOUD, not filter-silent: a sample whose
      // stem does not parse as a LONG asset id is a key-contract breach
      // (dropping it would silently export nothing for non-numeric
      // WebDataset keys — the opposite of the quarantine convention,
      // which quarantines BYTES it cannot decode, never keys it could
      // have kept). The check rides the same persisted frame the pipeline
      // consumes, so it costs one aggregate, not a re-walk.
      val bad = stemmed.where(col("asset_id").isNull)
        .select(col("stem")).limit(6).as[String].collect()
      require(bad.isEmpty,
        s"webdatasetDedupExport: sample stems must parse as LONG asset " +
          s"ids; offending stems include ${bad.take(5).mkString("'", "', '", "'")}" +
          (if (bad.length > 5) ", …" else ""))
      val fp = imageDHashDecoded(
          samples.select(col("asset_id"), col("_img")).as[(Long, Array[Byte])]
            .map { case (id, img) => RawAsset(id, "image", img) })
        .toDF().select(col("asset_id"), col("dhash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val store = graft.ext.Dedup.fingerprintStoreOpen(
          spark, servedStoreDir, storeFamily)
        val hits = graft.ext.Dedup.hammingAgainstStore64(store, fp,
            "asset_id", "dhash", maxHamming)
          .select(col("batch_id").as("asset_id")).distinct()
        val fresh = fp.join(hits, Seq("asset_id"), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val pairs = graft.ext.Dedup.hammingPairs64(fresh, "asset_id",
            "dhash", maxHamming)
          val cc = graft.ext.Dedup.duplicateClusters(pairs)
            .select(col("id").as("asset_id"), col("rep"))
          val survivors = fresh.join(cc, Seq("asset_id"), "left")
            .where(coalesce(col("rep"), col("asset_id")) === col("asset_id"))
            .select(col("asset_id"))
          val exported = samples.join(survivors, Seq("asset_id"), "left_semi")
            .select(col("asset_id"),
              map_from_entries(filter(
                array(
                  struct(lit(imageExt).as("ext"), col("_img").as("bytes")),
                  struct(lit(textExt).as("ext"), col("_txt").as("bytes"))),
                e => e.getField("bytes").isNotNull)).as("parts"))
          // eager: the writer collects its census, so every probe/pair/CC
          // action has run by the time the finallys release the pins
          graft.etl.Tar.writeWebdataset(exported, "asset_id", "parts",
            outDir, nShards)
        } finally fresh.unpersist(): Unit
      } finally fp.unpersist(): Unit
    } finally stemmed.unpersist(): Unit
  }

  /** A photo-sized (32×16) multi-frame P6 stream — the video twin of
    * [[syntheticPhotoPayload]]: frame f carries the photo scene seeded
    * `seed + 31·f`, optionally noise-re-encoded ([[syntheticPhotoRgb]]'s
    * checkerboard), so a (seed, noise=1) clip is the frame-for-frame
    * re-encode of the (seed, 0) original. */
  def syntheticPhotoVideoPayload(seed: Long, nFrames: Int,
                                 noise: Int = 0): Array[Byte] =
    (0 until nFrames).toArray.flatMap(f =>
      s"P6 32 16 255\n".getBytes("US-ASCII") ++
        syntheticPhotoRgb(seed + 31L * f, noise))

  final case class FrameDiff(asset_id: Long, frame_no: Int, n_px: Int,
                             abs_diff: Long)

  /** SCENE-CHANGE / shot-boundary signal over a multi-image PPM stream:
    * per consecutive frame pair, the sum of absolute byte differences
    * (the L1 frame delta every practical shot detector thresholds). One
    * row per frame from frame 1 on; exact integers. Streams whose frames
    * disagree on dimensions — or any malformed frame — quarantine (no
    * rows), the decode path's convention. Same mapPartitions shape as
    * [[decode]]: constant memory, one parsed frame pair in flight. */
  def videoFrameDiff(assets: Dataset[RawAsset]): Dataset[FrameDiff] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      parsePpmStream(a.payload) match {
        // geometry must agree, not just byte count: a 2x3 frame against a
        // 3x2 one has equal length but a meaningless positional delta
        case Some(frames) if frames.length >= 2 &&
            frames.forall { case (w, h, _) =>
              w == frames.head._1 && h == frames.head._2 } =>
          frames.sliding(2).zipWithIndex.map {
            case (Seq((_, _, prev), (_, _, cur)), i) =>
              var d = 0L
              var j = 0
              while (j < cur.length) {
                d += math.abs((cur(j) & 0xff) - (prev(j) & 0xff))
                j += 1
              }
              FrameDiff(a.asset_id, i + 1, cur.length, d)
          }
        case _ => Iterator.empty
      }
    })
  }

  final case class ChannelBucket(asset_id: Long, channel: Int, bucket: Int,
                                 n: Long)

  /** Per-channel COLOR HISTOGRAM of a P6 PPM — the image-statistics
    * feature (exposure/color-cast profiling, near-dup prefilters) as
    * exact integer counts: value div 32 → 8 buckets per RGB channel.
    * Non-PPM or malformed payloads emit no rows. */
  def colorHistogram(assets: Dataset[RawAsset]): Dataset[ChannelBucket] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.flatMap { a =>
      parsePpmStream(a.payload) match {
        case Some(frames) if frames.nonEmpty =>
          val counts = new Array[Long](3 * 8)
          val px = frames.head._3
          var j = 0
          while (j < px.length) {
            counts((j % 3) * 8 + ((px(j) & 0xff) >> 5)) += 1
            j += 1
          }
          (0 until 24).iterator.filter(counts(_) > 0).map(k =>
            ChannelBucket(a.asset_id, k / 8, k % 8, counts(k)))
        case _ => Iterator.empty
      }
    })
  }

  /** Walk a stream of concatenated P6 images, returning each frame's
    * (width, height, raw RGB bytes); None on the first malformed frame (a
    * stream is all-good or quarantined — partial decodes would silently
    * bias frame stats). */
  private def parsePpmStream(b: Array[Byte]): Option[Seq[(Int, Int, Array[Byte])]] = {
    if (b == null || b.length < 2) return None
    val frames = Seq.newBuilder[(Int, Int, Array[Byte])]
    var i = 0
    while (i < b.length) {
      if (i + 2 > b.length || b(i) != 'P' || b(i + 1) != '6') return None
      i += 2
      def nextInt(): Option[Int] = {
        var go = true
        while (go && i < b.length) {
          if (b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
          else if (Character.isWhitespace(b(i))) i += 1
          else go = false
        }
        val s = i
        while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
        if (i > s && i - s <= 9) Some(new String(b, s, i - s).toInt) else None
      }
      val parsed = for {
        w <- nextInt(); h <- nextInt(); mv <- nextInt()
        if w > 0 && h > 0 && mv > 0 && mv < 256
        if i + 1 <= b.length && b.length.toLong >= i.toLong + 1L + 3L * w * h
      } yield {
        val start = i + 1 // the single whitespace byte after maxval
        frames += ((w, h,
          java.util.Arrays.copyOfRange(b, start, start + 3 * w * h)))
        i = start + 3 * w * h
      }
      if (parsed.isEmpty) return None
    }
    Some(frames.result())
  }

  /** Mono 16-bit PCM sample extraction — the [[ByteCodec]] WAV chunk walk,
    * returning raw samples instead of summary stats. */
  private def wavSamplesMono(b: Array[Byte]): Option[Array[Int]] = {
    if (b == null || b.length <= 44) return None
    def tag(o: Int) = new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def leShort(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def leInt(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var fmt = Option.empty[(Int, Int, Int)] // format, ch, bits
    var data = Option.empty[(Int, Int)]
    var o = 12
    while (o + 8 <= b.length) {
      val id = tag(o)
      val size = leInt(o + 4)
      if (size < 0 || o.toLong + 8L + size > b.length) return None
      if (id == "fmt " && size >= 16)
        fmt = Some((leShort(o + 8), leShort(o + 10), leShort(o + 22)))
      if (id == "data") data = Some((o + 8, size))
      o += 8 + size + (size & 1)
    }
    for {
      (format, ch, bits) <- fmt
      (off, size) <- data
      if format == 1 && ch == 1 && bits == 16
    } yield Array.tabulate(size / 2)(i => leShort(off + 2 * i).toShort.toInt)
  }
}
