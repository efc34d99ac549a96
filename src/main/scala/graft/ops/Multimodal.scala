package graft.ops

import graft.util.Det
import org.apache.spark.sql.Dataset

/** Multimodal column plumbing: image/audio/video as opaque binary
  * columns with typed metadata.
  *
  * The Spark-side shape is real and tested — schema, per-partition
  * batching, lazy decoder init (the S8 analog: per-process initializer,
  * compilation_parser.py:160-234). Seven header parses (PNG, GIF, JPEG,
  * WebP×3, MP4, BMP, WAV) and the uncompressed CONTENT decodes (BMP
  * pixel mean, WAV PCM RMS) are hand-written byte-level logic, and
  * COMPRESSED pixel decode is REAL for every codec the JDK itself
  * ships — PNG, JPEG, GIF, BMP via [[ImageIoCodec]] (javax.imageio,
  * no external libraries), oracled by an encode→decode round trip
  * (q37). What remains non-real is narrow and named: WebP/MP4 pixel
  * decode (no JDK codec exists — their dims come from the real header
  * parses; register a JNI reader via the same per-partition init in
  * production) and `StubCodec.extractFeature`'s 8-dim pseudo-embedding
  * (a stand-in for a vision MODEL, not a codec).
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class MediaMeta(
      media_id: Long, kind: String, format: String,
      width: Int, height: Int, n_bytes: Long, feature: Array[Float])

  /** Format sniffing from magic bytes — real logic, no stub. RIFF
    * containers split on their form type: WAVE → "wav" (audio), others
    * (WEBP included) stay "riff". */
  def sniffFormat(payload: Array[Byte]): String = {
    def at(i: Int, v: Int) = payload.length > i && (payload(i) & 0xFF) == v
    if (at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) "png"
    else if (at(0, 0xFF) && at(1, 0xD8)) "jpeg"
    else if (at(0, 'G') && at(1, 'I') && at(2, 'F') && at(3, '8') &&
      (at(4, '7') || at(4, '9')) && at(5, 'a')) "gif"
    else if (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F') &&
      at(8, 'W') && at(9, 'A') && at(10, 'V') && at(11, 'E')) "wav"
    else if (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F')) "riff"
    else if (at(0, 'B') && at(1, 'M')) "bmp"
    else if (at(4, 'f') && at(5, 't') && at(6, 'y') && at(7, 'p')) "mp4"
    else "unknown"
  }

  /** Big-endian int from 4 bytes. */
  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 8) | (b(off + 1) & 0xFF)

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  /** Real JPEG dimension parse: walk the marker segments from SOI to the
    * first SOF (C0–CF except C4/C8/CC); height/width are big-endian at
    * +5/+7 of the SOF segment. Standalone markers (TEM 0x01, RST D0–D7)
    * carry no length word and are skipped as such; the walk STOPS at SOS
    * (DA — entropy-coded data follows, where a stray FF Cx byte pair is
    * not a marker) and at EOI (D9). Pure byte inspection, no libraries. */
  def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
    var i = 2
    while (i + 3 < b.length && (b(i) & 0xFF) == 0xFF) {
      val marker = b(i + 1) & 0xFF
      if (marker == 0xFF) { i += 1 } // fill byte
      else if (marker == 0xDA || marker == 0xD9) return None // SOS / EOI
      else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
        i += 2 // standalone marker: no length-prefixed segment
      } else if (marker >= 0xC0 && marker <= 0xCF &&
        marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
        return if (i + 8 < b.length) Some((be16(b, i + 7), be16(b, i + 5)))
        else None // (width, height)
      } else i += 2 + be16(b, i + 2) // loop guard re-checks bounds
    }
    None
  }

  private def le24(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) | ((b(off + 2) & 0xFF) << 16)

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  /** Real BMP dimension parse — BITMAPINFOHEADER (or any later 40+-byte
    * info header): little-endian width/height at +4/+8 of the info
    * header; negative height means top-down row order (dims are its
    * magnitude). Pure bytes, uncompressed format, no libraries needed. */
  def bmpDims(b: Array[Byte]): Option[(Int, Int)] =
    if (b.length >= 26 && b(0) == 'B' && b(1) == 'M' && le32(b, 14) >= 40)
      Some((le32(b, 18), math.abs(le32(b, 22))))
    else None

  /** Real BMP pixel decode (24 bpp BI_RGB): mean over the pixel channel
    * bytes, skipping each row's 4-byte alignment padding. This is a
    * REAL pixel statistic — BMP needs no codec. */
  def bmpMeanPixel(b: Array[Byte]): Option[Double] = {
    for {
      (w, h) <- bmpDims(b)
      if b.length >= 34 && le16(b, 28) == 24 && le32(b, 30) == 0 && w > 0 && h > 0
      off = le32(b, 10)
      rowBytes = ((w * 3 + 3) / 4) * 4
      if off >= 0 && off.toLong + rowBytes.toLong * h <= b.length
    } yield {
      var sum = 0L
      var r = 0
      while (r < h) {
        var i = 0
        val base = off + r * rowBytes
        while (i < w * 3) { sum += (b(base + i) & 0xFF); i += 1 }
        r += 1
      }
      sum.toDouble / (w.toLong * 3 * h)
    }
  }

  final case class WavInfo(
      sampleRate: Int, channels: Int, bitsPerSample: Int, nSamples: Long) {
    def durationMs: Long =
      if (sampleRate > 0) nSamples * 1000L / sampleRate else 0L
  }

  /** Real WAV header parse — walks the RIFF chunks for `fmt ` (PCM
    * format word, channel count, sample rate, bits per sample) and
    * `data` (payload size → frame count). Pure bytes. */
  def wavInfo(b: Array[Byte]): Option[WavInfo] = {
    if (b.length < 12 || sniffFormat(b) != "wav") return None
    var sr = 0; var ch = 0; var bps = 0; var dataSize = -1L
    // Long offsets: declared chunk sizes are attacker-controlled unsigned
    // 32-bit values — Int arithmetic on a size just under 2^31 wraps the
    // next offset negative and the following 4-byte fourCC read throws.
    // With Long math an oversized/truncated final chunk simply ends the
    // walk (its own parse already clamps to the bytes present).
    var i = 12L
    while (i + 8 <= b.length) {
      val ii = i.toInt // i + 8 <= b.length, so i fits an Int
      val fourCC = new String(b, ii, 4, "ISO-8859-1")
      val size = le32(b, ii + 4).toLong & 0xFFFFFFFFL
      val p = ii + 8
      fourCC match {
        case "fmt " if p + 16 <= b.length =>
          ch = le16(b, p + 2); sr = le32(b, p + 4); bps = le16(b, p + 14)
        case "data" => dataSize = math.min(size, (b.length - p).toLong)
        case _ => ()
      }
      i = p.toLong + size + (size & 1L) // chunks are even-padded
    }
    if (sr > 0 && ch > 0 && bps > 0 && dataSize >= 0)
      Some(WavInfo(sr, ch, bps, dataSize / (ch.toLong * bps / 8)))
    else None
  }

  /** Real PCM sample decode (16-bit): root-mean-square amplitude over
    * every sample of every channel. */
  def wavRms(b: Array[Byte]): Option[Double] = {
    if (wavInfo(b).forall(_.bitsPerSample != 16)) return None
    // locate the data chunk again (single pass kept simple); same
    // Long-offset walk as wavInfo — the unsigned size cannot go
    // negative, so n >= 0 by construction and the next offset never wraps
    var i = 12L
    while (i + 8 <= b.length) {
      val ii = i.toInt
      val fourCC = new String(b, ii, 4, "ISO-8859-1")
      val size = le32(b, ii + 4).toLong & 0xFFFFFFFFL
      val p = ii + 8
      if (fourCC == "data") {
        val n = (math.min(size, (b.length - p).toLong) / 2L).toInt
        if (n == 0) return Some(0.0)
        var sum = 0.0
        var k = 0
        while (k < n) {
          val s = (le16(b, p + 2 * k) << 16) >> 16 // sign-extend
          sum += s.toDouble * s
          k += 1
        }
        return Some(math.sqrt(sum / n))
      }
      i = p.toLong + size + (size & 1L)
    }
    None
  }

  /** Real COMPRESSED audio decode via the JDK's own javax.sound G.711
    * codecs (μ-law and A-law ship with every JDK, like the ImageIO
    * image codecs): any non-PCM WAV an installed provider accepts is
    * companded-decoded to linear PCM16 and the RMS computed over the
    * real samples. The JDK's μ-law table is bit-exact to the G.711
    * closed form (spec-pinned), which is what lets the DuckDB oracle
    * recompute the RMS from the code formula alone (q38). Returns None
    * for PCM input (wavRms owns it), truncated files, or encodings no
    * provider handles. */
  def compressedWavRms(b: Array[Byte]): Option[Double] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      val enc = in.getFormat.getEncoding
      // ANY PCM encoding is uncompressed input and the hand-rolled
      // wavRms owns it — 8-bit PCM surfaces as PCM_UNSIGNED in
      // javax.sound and must not be format-converted to 16-bit here
      // (it would report an RMS at the wrong scale — ADVICE r5 #2);
      // the G.711 path is strictly for companded encodings.
      if (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED ||
          enc == javax.sound.sampled.AudioFormat.Encoding.PCM_FLOAT)
        None
      else {
        val pcm = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          in.getFormat.getSampleRate, 16, in.getFormat.getChannels,
          2 * in.getFormat.getChannels, in.getFormat.getSampleRate, false)
        val dec = javax.sound.sampled.AudioSystem.getAudioInputStream(pcm, in)
        val bytes = dec.readAllBytes()
        val n = bytes.length / 2
        if (n == 0) Some(0.0)
        else {
          var sum = 0.0
          var k = 0
          while (k < n) {
            val s = ((bytes(2 * k) & 0xFF) | (bytes(2 * k + 1) << 8)).toShort.toInt
            sum += s.toDouble * s
            k += 1
          }
          Some(math.sqrt(sum / n))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic REAL μ-law WAV files for the q38 construct→decode
    * oracle: fmt code 7 (G.711 μ-law), 8 kHz mono, 8-bit codes
    * (id·13 + 7k) mod 256 — the oracle expands each code through the
    * G.711 closed form ((mant·8 + 132) · 2^exp − 132, sign from the
    * complemented top bit) and recomputes the RMS the JDK decoder must
    * reproduce bit-exactly. */
  def synthUlawBytes(id: Long): Array[Byte] = {
    val ns = (300 + (id % 7) * 50).toInt
    val out = java.nio.ByteBuffer.allocate(44 + ns)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + ns)
      .put("WAVE".getBytes("ISO-8859-1"))
    out.put("fmt ".getBytes("ISO-8859-1")).putInt(16)
      .putShort(7).putShort(1).putInt(8000).putInt(8000)
      .putShort(1).putShort(8)
    out.put("data".getBytes("ISO-8859-1")).putInt(ns)
    var k = 0
    while (k < ns) { out.put(((id * 13 + 7L * k) % 256).toByte); k += 1 }
    out.array()
  }

  private def be64(b: Array[Byte], off: Int): Long =
    ((be32(b, off).toLong & 0xFFFFFFFFL) << 32) |
      (be32(b, off + 4).toLong & 0xFFFFFFFFL)

  /** Real WebP dimension parse — walks the RIFF chunks and decodes the
    * first VP8 (lossy key-frame tag), VP8L (lossless 14-bit packed) or
    * VP8X (extended: 24-bit canvas-1) header it finds. Pure bytes. */
  def webpDims(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 20 || new String(b, 8, 4, "ISO-8859-1") != "WEBP") return None
    var i = 12
    while (i + 8 <= b.length) {
      val fourCC = new String(b, i, 4, "ISO-8859-1")
      val size = (b(i + 4) & 0xFF) | ((b(i + 5) & 0xFF) << 8) |
        ((b(i + 6) & 0xFF) << 16) | ((b(i + 7) & 0xFF) << 24)
      val p = i + 8
      fourCC match {
        case "VP8 " if p + 10 <= b.length &&
          (b(p + 3) & 0xFF) == 0x9D && (b(p + 4) & 0xFF) == 0x01 &&
          (b(p + 5) & 0xFF) == 0x2A =>
          return Some((le16(b, p + 6) & 0x3FFF, le16(b, p + 8) & 0x3FFF))
        case "VP8L" if p + 5 <= b.length && (b(p) & 0xFF) == 0x2F =>
          val w = 1 + (((b(p + 2) & 0x3F) << 8) | (b(p + 1) & 0xFF))
          val h = 1 + (((b(p + 4) & 0x0F) << 10) | ((b(p + 3) & 0xFF) << 2) |
            ((b(p + 2) & 0xC0) >> 6))
          return Some((w, h))
        case "VP8X" if p + 10 <= b.length =>
          return Some((1 + le24(b, p + 4), 1 + le24(b, p + 7)))
        case _ => ()
      }
      i = p + size + (size & 1) // chunks are even-padded
      if (size < 0) return None
    }
    None
  }

  /** Real MP4 track dimensions — descends the ISO-BMFF box tree
    * moov → trak → tkhd and reads the 16.16-fixed width/height (version
    * 0 and 1 layouts); the first trak with nonzero dims wins (audio
    * tracks carry 0×0). Pure bytes. */
  def mp4Dims(b: Array[Byte]): Option[(Int, Int)] = {
    // children of [start, end) as (type, payloadStart, boxEnd)
    def children(start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var i = start
      var ok = true
      while (ok && i + 8 <= end) {
        val sz32 = be32(b, i).toLong & 0xFFFFFFFFL
        val typ = new String(b, i + 4, 4, "ISO-8859-1")
        val (hdr, size) =
          if (sz32 == 1 && i + 16 <= end) (16L, be64(b, i + 8))
          else if (sz32 == 0) (8L, (end - i).toLong)
          else (8L, sz32)
        if (size < hdr || i + size > end) ok = false
        else { out += ((typ, i + hdr.toInt, i + size.toInt)); i += size.toInt }
      }
      out.result()
    }
    val dims = for {
      (t, ms, me) <- children(0, b.length) if t == "moov"
      (t2, ts, te) <- children(ms, me) if t2 == "trak"
      (t3, ks, ke) <- children(ts, te) if t3 == "tkhd"
      off = ks + (if ((b(ks) & 0xFF) == 1) 88 else 76) if off + 8 <= ke
      w = be32(b, off) >>> 16
      h = be32(b, off + 4) >>> 16
      if w > 0 && h > 0
    } yield (w, h)
    dims.headOption
  }

  /** A "decoder" handle that is expensive to construct — initialized
    * once per partition, not per row (mapPartitions closure). */
  final class StubCodec {
    /** PNG IHDR, GIF logical-screen, JPEG SOF, WebP VP8/VP8L/VP8X,
      * MP4 tkhd, BMP BITMAPINFOHEADER width/height are REAL byte-level
      * parses (and [[ImageIoCodec]] full-decodes the JDK-codec formats'
      * pixels); the fakes left HERE are deterministic dims from the
      * payload hash for unknown formats and truncated headers. Audio
      * has no raster dims — (0, 0) is the real answer. */
    def decodeDims(payload: Array[Byte]): (Int, Int) =
      sniffFormat(payload) match {
        case "png" if payload.length >= 24 =>
          (be32(payload, 16), be32(payload, 20))
        case "gif" if payload.length >= 10 =>
          (le16(payload, 6), le16(payload, 8))
        case "jpeg" =>
          jpegDims(payload).getOrElse(fakeDims(payload))
        case "riff" =>
          webpDims(payload).getOrElse(fakeDims(payload))
        case "mp4" =>
          mp4Dims(payload).getOrElse(fakeDims(payload))
        case "bmp" =>
          bmpDims(payload).getOrElse(fakeDims(payload))
        case "wav" => (0, 0)
        case _ => fakeDims(payload)
      }

    private def fakeDims(payload: Array[Byte]): (Int, Int) = {
      val h = Det.h(payload.length.toLong,
        if (payload.nonEmpty) payload(0).toLong else 0L)
      (64 + Det.nonNeg(h, 1024), 64 + Det.nonNeg(Det.mix64(h), 1024))
    }

    /** STUB feature extractor: seeded hash → 8-dim pseudo-embedding
      * (stands in for a real vision/audio model; deterministic so the
      * pipeline around it is testable). */
    def extractFeature(payload: Array[Byte]): Array[Float] = {
      val base = Det.h(payload.take(32).toSeq.map(_.toLong): _*)
      Array.tabulate(8)(i => (Det.unit(Det.h(base, i.toLong)) * 2 - 1).toFloat)
    }
  }

  /** Decode + feature-extract over the binary column. Deliberately
    * mapPartitions: one codec per partition (per-executor-task init),
    * rows streamed through it — the batch shape a real codec needs. */
  def decodeAndFeaturize(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      val codec = new StubCodec // lazy per-partition init (S8 analog)
      rows.map { r =>
        val (w, h) = codec.decodeDims(r.payload)
        MediaMeta(r.media_id, r.kind, sniffFormat(r.payload), w, h,
          r.payload.length.toLong, codec.extractFeature(r.payload))
      }
    }
  }

  final case class AvMeta(
      media_id: Long, format: String, width: Int, height: Int,
      mean_px: Double, sample_rate: Int, duration_ms: Long, rms: Double)

  /** REAL content decode for the codec-free formats: BMP 24bpp pixel
    * mean + dims, WAV 16-bit PCM sample rate / duration / RMS. Same
    * per-partition codec-init shape as decodeAndFeaturize; unlike the
    * header-only path, the CONTENT bytes are decoded here (the S8
    * analog's per-item content features, compilation_parser.py:49-121).
    * Non-applicable fields are zero, not fake. */
  def decodeAvFeatures(media: Dataset[MediaRow]): Dataset[AvMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      val icodec = new ImageIoCodec // per-partition init, like StubCodec
      rows.map { r =>
        sniffFormat(r.payload) match {
          case "bmp" =>
            val (w, h) = bmpDims(r.payload).getOrElse((0, 0))
            AvMeta(r.media_id, "bmp", w, h,
              bmpMeanPixel(r.payload).getOrElse(0.0), 0, 0L, 0.0)
          case "wav" =>
            val info = wavInfo(r.payload)
            AvMeta(r.media_id, "wav", 0, 0, 0.0,
              info.map(_.sampleRate).getOrElse(0),
              info.map(_.durationMs).getOrElse(0L),
              // PCM16 → the hand decoder; companded (μ-law/A-law) →
              // the JDK G.711 codec
              wavRms(r.payload)
                .orElse(compressedWavRms(r.payload)).getOrElse(0.0))
          case f @ ("png" | "gif" | "jpeg") =>
            // compressed formats the JDK ships a codec for: REAL pixel
            // decode (per-partition codec, initialized lazily below)
            icodec.decodeImage(r.payload) match {
              case Some((w, h, mean)) => AvMeta(r.media_id, f, w, h, mean, 0, 0L, 0.0)
              case None               => AvMeta(r.media_id, f, 0, 0, 0.0, 0, 0L, 0.0)
            }
          case f =>
            AvMeta(r.media_id, f, 0, 0, 0.0, 0, 0L, 0.0)
        }
      }
    }
  }

  /** Deterministic REAL full files (not just headers) for the
    * construct→parse round-trip oracle (q36): even ids → a 24bpp BI_RGB
    * BMP whose pixel bytes follow (id·31 + k) mod 256 (width a multiple
    * of 4 so rows need no padding), odd ids → a 16-bit PCM mono WAV
    * whose samples follow ((id·7 + 13k) mod 2001) − 1000. The DuckDB
    * oracle recomputes dims / pixel mean / sample rate / duration / RMS
    * from the formulas alone — the byte encode and the byte decode must
    * agree through a real file layout. */
  def synthAvBytes(id: Long): Array[Byte] =
    if (id % 2 == 0) {
      val w = (4 + (id % 3) * 4).toInt // 4/8/12: w*3 divisible by 4
      val h = (1 + (id % 4)).toInt
      val nPix = w * 3 * h
      val out = java.nio.ByteBuffer.allocate(54 + nPix)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte).putInt(54 + nPix)
        .putShort(0).putShort(0).putInt(54) // file header
      out.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .putInt(0).putInt(nPix).putInt(0).putInt(0).putInt(0).putInt(0)
      var k = 0
      while (k < nPix) { out.put(((id * 31 + k) % 256).toByte); k += 1 }
      out.array()
    } else {
      val sr = (8000 + (id % 8) * 1000).toInt
      val ns = (400 + (id % 5) * 100).toInt
      val out = java.nio.ByteBuffer.allocate(44 + 2 * ns)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + 2 * ns)
        .put("WAVE".getBytes("ISO-8859-1"))
      out.put("fmt ".getBytes("ISO-8859-1")).putInt(16)
        .putShort(1).putShort(1).putInt(sr).putInt(sr * 2)
        .putShort(2).putShort(16)
      out.put("data".getBytes("ISO-8859-1")).putInt(2 * ns)
      var k = 0
      while (k < ns) {
        out.putShort(((id * 7 + 13L * k) % 2001 - 1000).toShort)
        k += 1
      }
      out.array()
    }

  /** REAL compressed-pixel decode via the JDK's OWN ImageIO codecs
    * (PNG, JPEG, GIF, BMP, WBMP ship with every JDK — no external
    * libraries): full entropy/filter/palette decode to pixels, not a
    * header parse. One instance per partition like [[StubCodec]];
    * ImageIO's temp-FILE-per-decode disk cache is disabled at init.
    * Formats with no JDK codec (WebP, MP4 video) still return None
    * here — their header parses above remain the real answer for dims,
    * and a production build would register a JNI reader via the same
    * per-partition init. ≙ S8's real per-item content features
    * (compilation_parser.py:49-121). */
  final class ImageIoCodec {
    ImageIoCodec.init
    /** (width, height, mean pixel value over the RGB channels), or None
      * for payloads no installed reader accepts (truncated, corrupt,
      * codec-less formats). */
    def decodeImage(payload: Array[Byte]): Option[(Int, Int, Double)] =
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              sum += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
              x += 1
            }
            y += 1
          }
          Some((w, h, sum.toDouble / (w.toLong * h * 3)))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  object ImageIoCodec {
    /** Once-per-JVM: decode must work on executors with no display, and
      * without a temp file per image. */
    lazy val init: Unit = {
      System.setProperty("java.awt.headless", "true")
      javax.imageio.ImageIO.setUseCache(false)
    }
  }

  /** Deterministic REAL compressed image files for the q37
    * construct→decode round-trip oracle — encoded by the same JDK
    * codecs [[ImageIoCodec]] decodes with, so the oracle binds the
    * whole encode→entropy-coded bytes→decode loop:
    *
    *  - id ≡ 0 (mod 3): PNG, per-channel gradient — flattened channel
    *    j of pixel p is (id·31 + 3p + j) mod 256, so the decoded mean
    *    is the same closed form the BMP oracle (q36) uses. Lossless →
    *    the oracle checks the mean EXACTLY.
    *  - id ≡ 1 (mod 3): GIF, two-gray checkerboard on an explicit
    *    2-entry palette; width is even so the grays tile equally and
    *    the exact mean is (A + B) / 2 with A = id·37 mod 256,
    *    B = id·53 mod 256. Written NON-interlaced: the JDK GIF writer
    *    interlaces by default and its interlaced round-trip scrambles
    *    rows on images shorter than the 8-row pass stride (observed:
    *    4-row images decode with rows 2/3 corrupted) — a real JDK bug
    *    this oracle would catch if the default ever changed.
    *  - id ≡ 2 (mod 3): JPEG, solid gray id·29 mod 256. Lossy → the
    *    oracle checks DIMS exactly and the spec checks the decoded
    *    mean is within ±2 of the gray (DCT of a constant block is
    *    near-exact), which pins real pixel decode without demanding
    *    bit-exact IDCT. */
  def synthImageBytes(id: Long): Array[Byte] = {
    ImageIoCodec.init
    import java.awt.image.{BufferedImage, IndexColorModel}
    val bos = new java.io.ByteArrayOutputStream()
    id % 3 match {
      case 0 =>
        val w = (5 + id % 4).toInt
        val h = (3 + id % 3).toInt
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val k = (y * w + x) * 3
            val r = ((id * 31 + k) % 256).toInt
            val g = ((id * 31 + k + 1) % 256).toInt
            val b = ((id * 31 + k + 2) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        javax.imageio.ImageIO.write(img, "png", bos)
      case 1 =>
        val a = ((id * 37) % 256).toInt
        val b = ((id * 53) % 256).toInt
        val w = (4 + 2 * (id % 3)).toInt
        val h = (3 + id % 4).toInt
        val pal = Array(a.toByte, b.toByte)
        val cm = new IndexColorModel(8, 2, pal, pal, pal)
        val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, cm)
        val ras = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            ras.setSample(x, y, 0, (x + y) % 2)
            x += 1
          }
          y += 1
        }
        val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val pp = wr.getDefaultWriteParam
        pp.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        wr.setOutput(ios)
        wr.write(null, new javax.imageio.IIOImage(img, null, null), pp)
        wr.dispose()
        ios.close()
      case _ =>
        val gray = ((id * 29) % 256).toInt
        val w = (8 + (id % 5) * 4).toInt
        val h = (6 + (id % 3) * 2).toInt
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            img.setRGB(x, y, (gray << 16) | (gray << 8) | gray)
            x += 1
          }
          y += 1
        }
        javax.imageio.ImageIO.write(img, "jpeg", bos)
    }
    bos.toByteArray
  }

  final case class ImgMeta(
      media_id: Long, format: String, width: Int, height: Int,
      mean_px: Double)

  /** Compressed-image content decode over the binary column — the
    * [[decodeAvFeatures]] shape for the JDK-codec formats, kept as its
    * own typed operator so image-only corpora skip the AV dispatch.
    * Undecodable payloads yield (0, 0, 0.0), format still sniffed. */
  def decodeImageFeatures(media: Dataset[MediaRow]): Dataset[ImgMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      val codec = new ImageIoCodec
      rows.map { r =>
        codec.decodeImage(r.payload) match {
          case Some((w, h, mean)) =>
            ImgMeta(r.media_id, sniffFormat(r.payload), w, h, mean)
          case None =>
            ImgMeta(r.media_id, sniffFormat(r.payload), 0, 0, 0.0)
        }
      }
    }
  }

  // ---------------------------------------------------- header fixtures

  /** Deterministic REAL media headers as a pure column expression:
    * format by id % 6 (png, gif, jpeg, webp-VP8X, mp4-tkhd, webp-VP8L),
    * width = 16 + 7·id mod 1000, height = 16 + 13·id mod 800, encoded
    * into the format's actual byte layout (endianness, segment walks,
    * VP8L bit packing, ISO-BMFF box sizes included). decodeDims must
    * invert this construction exactly — the DuckDB oracle (q28)
    * recomputes the formulas independently, so any parser drift fails
    * the round-trip. Sizes per format: 29/13/33/30/124/25 bytes. */
  def synthHeaderPayload(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    def byteHex(c: Column) = lpad(hex(c.bitwiseAND(lit(255L))), 2, "0")
    def be16(c: Column) = lpad(hex(c), 4, "0")
    def be32(c: Column) = lpad(hex(c), 8, "0")
    def le16(c: Column) = concat(byteHex(c), byteHex(shiftright(c, 8)))
    def le24(c: Column) = concat(byteHex(c), byteHex(shiftright(c, 8)),
      byteHex(shiftright(c, 16)))
    val w = lit(16L) + (id * 7) % 1000
    val h = lit(16L) + (id * 13) % 800
    val png = concat(lit("89504e470d0a1a0a" + "0000000d" + "49484452"),
      be32(w), be32(h), lit("0806000000"))
    val gif = concat(lit("474946383961"), le16(w), le16(h), lit("f70000"))
    // SOI, APP0(2B data), TEM (standalone), DQT(2B data), SOF0, tail —
    // exercises the segment walk, the no-length-word skip, and the stop
    val jpeg = concat(lit("ffd8" + "ffe00004" + "6162" + "ff01" +
      "ffdb0004" + "0001" + "ffc0" + "0011" + "08"),
      be16(h), be16(w), lit("0311001101110100"))
    val vp8x = concat(lit("52494646" + "16000000" + "57454250" +
      "56503858" + "0a000000" + "00" + "000000"),
      le24(w - 1), le24(h - 1))
    // ftyp(16) + moov( trak( tkhd v0: 8 + 84B payload, dims 16.16 at +76/+80 ))
    val mp4 = concat(lit(be32Lit(16) + "6674797069736f6d00000000" +
      be32Lit(108) + "6d6f6f76" + be32Lit(100) + "7472616b" +
      be32Lit(92) + "746b6864" +
      "00000000" + "0000000000000000" + "00000001" + "00000000" +
      "000003e8" + "0000000000000000" + "0000" + "0000" + "0100" + "0000" +
      // unity matrix: 9 × 32-bit fixed-point values (36 bytes)
      "00010000" + "00000000" + "00000000" +
      "00000000" + "00010000" + "00000000" +
      "00000000" + "00000000" + "40000000"),
      be16(w), lit("0000"), be16(h), lit("0000"))
    // VP8L: 0x2f then 14-bit w-1 / 14-bit h-1 packed little-endian
    val w1 = w - 1
    val h1 = h - 1
    val vp8l = concat(lit("52494646" + "11000000" + "57454250" +
      "5650384c" + "05000000" + "2f"),
      byteHex(w1),
      byteHex(shiftright(w1, 8).bitwiseAND(lit(63L))
        .bitwiseOR(shiftleft(h1.bitwiseAND(lit(3L)), 6))),
      byteHex(shiftright(h1, 2)),
      byteHex(shiftright(h1, 10).bitwiseAND(lit(15L))))
    unhex(
      when(id % 6 === 0, png)
        .when(id % 6 === 1, gif)
        .when(id % 6 === 2, jpeg)
        .when(id % 6 === 3, vp8x)
        .when(id % 6 === 4, mp4)
        .otherwise(vp8l))
  }

  private def be32Lit(v: Int): String = f"$v%08x"
}
