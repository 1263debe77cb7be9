package graft.kernel

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Multimodal column support: image/audio/video payloads as opaque `binary`
  * columns with typed metadata.
  *
  * IMAGE decode is REAL: PNG/JPEG/BMP bytes are sniffed by magic number and
  * decoded with the JDK's `javax.imageio` codecs (zero extra dependencies) —
  * width/height/channel count from the decoded raster and per-channel pixel
  * means as the deterministic feature stand-in (a production pipeline would
  * emit an embedding).
  *
  * AUDIO and VIDEO are REAL CONTAINERS too: audio payloads are RIFF/WAVE
  * files (PCM16LE, written and parsed byte-for-byte against the canonical
  * 44-byte header + chunk walk — no codec library needed for PCM), video
  * payloads are RIFF/AVI files (LIST hdrl → avih MainAVIHeader → LIST movi),
  * both parsed by a pure-JDK chunk walker. Only the COMPRESSED codecs (mp3,
  * h264…) are genuinely out of reach without native libs; a residual "GMB"
  * container (graft media blob) remains in the mix as the documented
  * stand-in for those, so the unknown-container path stays exercised.
  * Either way the Spark side is identical and fully tested: binary-column
  * schema, typed `Dataset` map (the Scala analog of a `mapInPandas` decode
  * batch), partitioning, and the metadata/feature schema a downstream
  * trainer reads.
  */
object Multimodal {

  // the JDK image codecs run headless; disable ImageIO's disk cache so
  // executor threads never contend on temp files
  locally {
    System.setProperty("java.awt.headless", "true")
    ImageIO.setUseCache(false)
  }

  /** Typed metadata + features for one media payload. `failure` mirrors the
    * extraction failure-taxonomy convention (never throw in the data plane). */
  final case class MediaMeta(
      mediaId: Long,
      format: String,   // "png" | "jpeg" | "bmp" | "jp2" | "wav" | "avi" | "mp3"
                        // | "h264" | "image" | "audio" | "video" | "unknown"
                        // ("audio"/"video" only from legacy GMB containers,
                        // which survive solely as the unknown-container fixture)
      width: Int,
      height: Int,
      channels: Int,
      nBytes: Long,
      // Deterministic feature stand-in: per-channel pixel means for real
      // images, per-channel payload byte means for GMB containers.
      features: Vector[Double],
      failure: String)

  private val Magic: Array[Byte] = Array('G'.toByte, 'M'.toByte, 'B'.toByte)
  private val gmbFormats = Vector("image", "audio", "video")

  private def rgbImage(rng: java.util.Random, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) { r.setSample(x, y, c, rng.nextInt(256)); c += 1 }
        x += 1
      }
      y += 1
    }
    img
  }

  private def grayImage(rng: java.util.Random, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, rng.nextInt(256)); x += 1 }
      y += 1
    }
    img
  }

  private def encodeImage(img: BufferedImage, fmt: String): Array[Byte] = {
    val out = new ByteArrayOutputStream(1024)
    ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  /** Deterministic JPEG blob for [[PdfLite.writeDoc]]'s `/DCTDecode` image
    * XObjects — the scanned-page dialect where the page image carries real
    * JPEG bytes. Same codec kernel (`javax.imageio`) both directions, so the
    * PDF image path and the standalone image path share one decoder. */
  private[kernel] def jpegBlob(rng: java.util.Random, w: Int, h: Int): Array[Byte] =
    encodeImage(rgbImage(rng, w, h), "jpg")

  /** Raster dims of an image payload iff a JDK codec recognizes and header-
    * parses it (None on corrupt/unsupported bytes, never throws). HEADER
    * decode only — `ImageReader.getWidth` walks to the JPEG SOF / PNG IHDR
    * without allocating a raster, which is what a routing decision needs;
    * the full pixel decode stays on the media path ([[decode]]). A raster
    * decode here cost ~0.7 ms + ~100 kB allocation per scanned doc in the
    * extraction hot loop — allocation is the multithread-scaling currency
    * (BASELINE.md round-3 lesson). */
  private[kernel] def imageDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try { r.setInput(iis); Some((r.getWidth(0), r.getHeight(0))) }
        finally r.dispose()
      }
    } catch { case _: Exception => None }
    finally iis.close()
  }

  // ---- MPEG-1 Layer III frame stream (ISO/IEC 11172-3 §2.4.1.3) ----
  // kbit/s by bitrate_index for MPEG-1 Layer III (index 0 = free, 15 = bad)
  private val Mp3Bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96,
    112, 128, 160, 192, 224, 256, 320, 0)
  private val Mp3Rates = Array(44100, 48000, 32000, 0)

  /** Real MPEG-1 Layer III frame headers (sync + version/layer/bitrate/rate/
    * channel-mode bits, spec frame-length stride) over rng filler payloads,
    * optionally behind an ID3v2 tag — enough structure for any compliant
    * header walk; the audio payload itself stays opaque (no JDK mp3 codec). */
  private def mp3Blob(rng: java.util.Random): Array[Byte] = {
    val brIdx = 1 + rng.nextInt(14)
    val srIdx = rng.nextInt(3)
    val mode = rng.nextInt(4) // 0 stereo, 1 joint, 2 dual, 3 mono
    val nFrames = 4 + rng.nextInt(9)
    val out = new ByteArrayOutputStream(2048)
    if (rng.nextBoolean()) {
      // ID3v2 header: "ID3", version 3.0, flags 0, syncsafe payload size
      val tagLen = 16 + rng.nextInt(64)
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0); out.write(0)
      out.write((tagLen >> 21) & 0x7f); out.write((tagLen >> 14) & 0x7f)
      out.write((tagLen >> 7) & 0x7f); out.write(tagLen & 0x7f)
      var k = 0
      while (k < tagLen) { out.write(rng.nextInt(256)); k += 1 }
    }
    val frameLen = 144 * Mp3Bitrates(brIdx) * 1000 / Mp3Rates(srIdx) // padding 0
    var f = 0
    while (f < nFrames) {
      out.write(0xff); out.write(0xfb) // sync + MPEG-1 (11) + Layer III (01) + no CRC
      out.write((brIdx << 4) | (srIdx << 2)) // padding 0, private 0
      out.write(mode << 6)
      var k = 4
      while (k < frameLen) {
        // nextInt(255) never yields 0xFF — filler cannot fake a frame sync
        out.write(rng.nextInt(255))
        k += 1
      }
      f += 1
    }
    out.toByteArray
  }

  // ---- H.264 Annex-B byte stream (ITU-T H.264 §7.3.2.1 SPS) ----

  /** MSB-first bit writer with exp-Golomb ue(v) (H.264 §9.1). */
  private final class BitWriter {
    private val buf = new ByteArrayOutputStream(32)
    private var cur = 0
    private var nBits = 0
    def u(v: Int, bits: Int): Unit = {
      var k = bits - 1
      while (k >= 0) {
        cur = (cur << 1) | ((v >> k) & 1)
        nBits += 1
        if (nBits == 8) { buf.write(cur); cur = 0; nBits = 0 }
        k -= 1
      }
    }
    def ue(v: Int): Unit = {
      val code = v + 1
      val len = 32 - Integer.numberOfLeadingZeros(code)
      u(0, len - 1); u(code, len)
    }
    /** rbsp_stop_one_bit + zero padding to a byte boundary. */
    def stop(): Array[Byte] = { u(1, 1); if (nBits > 0) u(0, 8 - nBits); buf.toByteArray }
  }

  /** Emulation-prevention escape: 00 00 {00,01,02,03} → 00 00 03 xx
    * (H.264 §7.4.1.1), applied to RBSP bytes before they hit the stream. */
  private def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(rbsp.length + 4)
    var zeros = 0
    for (b <- rbsp) {
      if (zeros >= 2 && (b & 0xff) <= 3) { out.write(3); zeros = 0 }
      out.write(b & 0xff)
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toByteArray
  }

  /** Annex-B stream: start-coded SPS (real exp-Golomb geometry) + PPS + a
    * few opaque slice NALs — real headers, undecodable picture payload,
    * exactly what a crawl's video attachments look like to a JDK-only
    * pipeline. */
  private def h264Blob(rng: java.util.Random): Array[Byte] = {
    val wMbs = 1 + rng.nextInt(80)  // 16..1280 px wide
    val hMbs = 1 + rng.nextInt(45)  // 16..720 px tall
    val nSlices = 1 + rng.nextInt(6)
    val sps = new BitWriter
    sps.u(66, 8)  // profile_idc: Baseline
    sps.u(0, 8)   // constraint flags + reserved
    sps.u(30, 8)  // level_idc 3.0
    sps.ue(0)     // seq_parameter_set_id
    sps.ue(0)     // log2_max_frame_num_minus4
    sps.ue(0)     // pic_order_cnt_type -> log2_max_pic_order_cnt_lsb_minus4
    sps.ue(0)
    sps.ue(1)     // max_num_ref_frames
    sps.u(0, 1)   // gaps_in_frame_num_value_allowed_flag
    sps.ue(wMbs - 1)
    sps.ue(hMbs - 1)
    sps.u(1, 1)   // frame_mbs_only_flag
    sps.u(0, 1)   // direct_8x8_inference_flag
    sps.u(0, 1)   // frame_cropping_flag
    sps.u(0, 1)   // vui_parameters_present_flag
    val pps = new BitWriter
    pps.ue(0); pps.ue(0) // pps id, sps id (enough for a header walk)
    val out = new ByteArrayOutputStream(1024)
    def nal(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Unit = {
      out.write(0); out.write(0); out.write(0); out.write(1)
      out.write((refIdc << 5) | nalType)
      val esc = escapeRbsp(rbsp)
      out.write(esc, 0, esc.length)
    }
    nal(3, 7, sps.stop())
    nal(3, 8, pps.stop())
    var sl = 0
    while (sl < nSlices) {
      val payload = new Array[Byte](32 + rng.nextInt(256))
      rng.nextBytes(payload)
      // slice payloads must not fake a start code: zero out no 00 00 0x runs
      var k = 2
      while (k < payload.length) {
        if (payload(k - 2) == 0 && payload(k - 1) == 0 && (payload(k) & 0xff) <= 3)
          payload(k) = 0x55
        k += 1
      }
      nal(if (sl == 0) 3 else 2, if (sl == 0) 5 else 1, payload)
      sl += 1
    }
    out.toByteArray
  }

  // ---- little-endian writers/readers for the RIFF family ----
  private def w16(b: Array[Byte], at: Int, v: Int): Unit = {
    b(at) = (v & 0xff).toByte; b(at + 1) = ((v >> 8) & 0xff).toByte
  }
  private def w32(b: Array[Byte], at: Int, v: Int): Unit = {
    b(at) = (v & 0xff).toByte; b(at + 1) = ((v >> 8) & 0xff).toByte
    b(at + 2) = ((v >> 16) & 0xff).toByte; b(at + 3) = ((v >> 24) & 0xff).toByte
  }
  private def wTag(b: Array[Byte], at: Int, tag: String): Unit = {
    var k = 0; while (k < 4) { b(at + k) = tag.charAt(k).toByte; k += 1 }
  }
  private def r16(b: Array[Byte], at: Int): Int =
    (b(at) & 0xff) | ((b(at + 1) & 0xff) << 8)
  private def r32(b: Array[Byte], at: Int): Int =
    (b(at) & 0xff) | ((b(at + 1) & 0xff) << 8) |
    ((b(at + 2) & 0xff) << 16) | ((b(at + 3) & 0xff) << 24)
  private def tagAt(b: Array[Byte], at: Int, tag: String): Boolean =
    at + 4 <= b.length && b(at) == tag.charAt(0).toByte &&
      b(at + 1) == tag.charAt(1).toByte && b(at + 2) == tag.charAt(2).toByte &&
      b(at + 3) == tag.charAt(3).toByte

  /** A REAL RIFF/WAVE file: canonical 44-byte header (fmt chunk, PCM16LE) +
    * random signed samples. */
  private def wavBlob(rng: java.util.Random): Array[Byte] = {
    val ch = 1 + rng.nextInt(2)
    val sampleRate = Vector(8000, 16000, 22050, 44100)(rng.nextInt(4))
    val nFrames = 64 + rng.nextInt(2048)
    val dataLen = nFrames * ch * 2
    val out = new Array[Byte](44 + dataLen)
    wTag(out, 0, "RIFF"); w32(out, 4, 36 + dataLen); wTag(out, 8, "WAVE")
    wTag(out, 12, "fmt "); w32(out, 16, 16)
    w16(out, 20, 1) // PCM
    w16(out, 22, ch); w32(out, 24, sampleRate)
    w32(out, 28, sampleRate * ch * 2); w16(out, 32, ch * 2); w16(out, 34, 16)
    wTag(out, 36, "data"); w32(out, 40, dataLen)
    var at = 44
    var k = 0
    while (k < nFrames * ch) {
      w16(out, at, rng.nextInt(65536)); at += 2; k += 1
    }
    out
  }

  /** A REAL RIFF/AVI skeleton: LIST hdrl with a 56-byte `avih`
    * MainAVIHeader, then LIST movi carrying the (opaque) frame payload. */
  private def aviBlob(rng: java.util.Random): Array[Byte] = {
    val streams = 1 + rng.nextInt(2)
    val w = 64 + rng.nextInt(1920)
    val h = 64 + rng.nextInt(1080)
    val frames = 8 + rng.nextInt(240)
    val payloadLen = 256 + rng.nextInt(4096)
    val hdrlLen = 4 + 8 + 56          // "hdrl" + "avih"+size + header
    val moviLen = 4 + payloadLen      // "movi" + payload
    val out = new Array[Byte](12 + 8 + hdrlLen + 8 + moviLen)
    var at = 0
    wTag(out, at, "RIFF"); w32(out, at + 4, out.length - 8); wTag(out, at + 8, "AVI "); at += 12
    wTag(out, at, "LIST"); w32(out, at + 4, hdrlLen); wTag(out, at + 8, "hdrl"); at += 12
    wTag(out, at, "avih"); w32(out, at + 4, 56); at += 8
    w32(out, at, 33333)               // dwMicroSecPerFrame (~30 fps)
    w32(out, at + 4, 0); w32(out, at + 8, 0); w32(out, at + 12, 0)
    w32(out, at + 16, frames)         // dwTotalFrames
    w32(out, at + 20, 0)
    w32(out, at + 24, streams)        // dwStreams
    w32(out, at + 28, 0)
    w32(out, at + 32, w); w32(out, at + 36, h)
    w32(out, at + 40, 0); w32(out, at + 44, 0); w32(out, at + 48, 0); w32(out, at + 52, 0)
    at += 56
    wTag(out, at, "LIST"); w32(out, at + 4, moviLen); wTag(out, at + 8, "movi"); at += 12
    while (at < out.length) { out(at) = rng.nextInt(256).toByte; at += 1 }
    out
  }

  /** Deterministic media blob for media id `i` — a pure function of
    * (seed, i), same generator discipline as [[Corpus.page]]. Half the ids
    * carry REAL encoded images (PNG — gray or RGB —, JPEG, BMP, written with
    * the same `javax.imageio` codecs that decode them); audio ids carry real
    * RIFF/WAVE PCM16 files, video ids real RIFF/AVI skeletons. */
  def blob(i: Long, seed: Long = 42L): Array[Byte] = {
    val rng = new java.util.Random(seed * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL)
    rng.nextLong()
    val kind = rng.nextInt(10)
    if (kind < 5) {
      // real containers end-to-end: RIFF/WAVE PCM16, RIFF/AVI, MPEG-1
      // Layer III frame streams, H.264 Annex-B — the former GMB stand-in
      // survives only as MultimodalSpec's unknown-container fixture
      kind match {
        case 0 => mp3Blob(rng)
        case 1 => wavBlob(rng)
        case 2 => h264Blob(rng)
        case _ => aviBlob(rng)
      }
    } else {
      val w = 8 + rng.nextInt(32)
      val h = 8 + rng.nextInt(32)
      kind match {
        case 5 => encodeImage(grayImage(rng, w, h), "png")
        case 6 => encodeImage(rgbImage(rng, w, h), "png")
        case 7 => encodeImage(rgbImage(rng, w, h), "jpg")
        case _ => encodeImage(rgbImage(rng, w, h), "bmp")
      }
    }
  }

  /** Magic-number sniff — the source-router analog for media payloads. */
  def sniff(bytes: Array[Byte]): String =
    if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
        bytes(2) == 'N' && bytes(3) == 'G') "png"
    else if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff) "jpeg"
    else if (bytes.length >= 2 && bytes(0) == 'B' && bytes(1) == 'M') "bmp"
    else if (bytes.length >= 12 && tagAt(bytes, 0, "RIFF") && tagAt(bytes, 8, "WAVE")) "wav"
    else if (bytes.length >= 12 && tagAt(bytes, 0, "RIFF") && tagAt(bytes, 8, "AVI ")) "avi"
    else if (bytes.length >= 3 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') "mp3"
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xe0) == 0xe0) "mp3"
    else if (bytes.length >= 4 && bytes(0) == 0 && bytes(1) == 0 &&
        ((bytes(2) == 0 && bytes(3) == 1) || bytes(2) == 1)) "h264"
    else if (bytes.length >= 3 && bytes(0) == Magic(0) && bytes(1) == Magic(1) &&
        bytes(2) == Magic(2)) "gmb"
    else if (bytes.length >= 12 &&
        java.util.Arrays.equals(bytes, 0, 12, Jpx.JP2Sig, 0, 12)) "jp2"
    else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0x4f && (bytes(2) & 0xff) == 0xff &&
        (bytes(3) & 0xff) == 0x51) "jp2"
    else "unknown"

  /** REAL RIFF/WAVE parse: chunk walk to `fmt ` and `data`, then per-channel
    * means over the signed PCM16LE samples. `width` carries the sample rate
    * and `height` the frame count (the schema's spatial slots repurposed per
    * modality, documented in the column contract). Non-PCM or non-16-bit
    * audio lands in the failure taxonomy as `unsupported_codec`. */
  private def decodeWav(mediaId: Long, b: Array[Byte]): MediaMeta = {
    // Long cursor: `at + 8 + len` can exceed Int.MaxValue on a multi-GB
    // payload even when len itself passes the <= b.length guard
    var atL = 12L
    var ch = 0; var rate = 0; var bits = 0; var codec = 0
    var dataAt = -1; var dataLen = 0
    while (atL + 8 <= b.length) {
      val at = atL.toInt
      val len = r32(b, at + 4)
      // a declared length beyond the payload is corrupt; it would also
      // overflow `at` into negative territory and break the walk's bounds
      if (len < 0 || len > b.length)
        return MediaMeta(mediaId, "wav", 0, 0, 0, b.length.toLong,
          Vector.empty, "decode_error")
      if (tagAt(b, at, "fmt ") && at + 8 + 16 <= b.length) {
        codec = r16(b, at + 8); ch = r16(b, at + 10)
        rate = r32(b, at + 12); bits = r16(b, at + 22)
      } else if (tagAt(b, at, "data")) {
        dataAt = at + 8; dataLen = math.min(len, b.length - dataAt)
      }
      atL += 8L + len + (len & 1) // RIFF chunks are word-aligned
    }
    if (ch <= 0 || dataAt < 0)
      return MediaMeta(mediaId, "wav", 0, 0, 0, b.length.toLong,
        Vector.empty, "decode_error")
    if (codec != 1 || bits != 16)
      return MediaMeta(mediaId, "wav", rate, 0, ch, b.length.toLong,
        Vector.empty, "unsupported_codec")
    val nFrames = dataLen / (2 * ch)
    val sums = new Array[Long](ch)
    var f = 0
    while (f < nFrames) {
      var c = 0
      while (c < ch) {
        sums(c) += r16(b, dataAt + (f * ch + c) * 2).toShort // signed PCM
        c += 1
      }
      f += 1
    }
    val feats = sums.map(s => if (nFrames == 0) 0.0 else s.toDouble / nFrames).toVector
    MediaMeta(mediaId, "wav", rate, nFrames, ch, b.length.toLong, feats, "")
  }

  /** REAL RIFF/AVI parse: find the `avih` MainAVIHeader (pixel geometry,
    * stream count, total frames — the header must be present and sane), then
    * per-stream byte means over the `movi` payload as the feature stand-in
    * for the still-opaque compressed frames. */
  private def decodeAvi(mediaId: Long, b: Array[Byte]): MediaMeta = {
    var atL = 12L // Long cursor — same overflow rationale as decodeWav
    var w = 0; var h = 0; var streams = 0; var frames = -1
    var moviAt = -1; var moviLen = 0
    while (atL + 8 <= b.length) {
      val at = atL.toInt
      val len = r32(b, at + 4)
      // same corrupt-length/overflow guard as the WAV walk
      if (len < 0 || len > b.length)
        return MediaMeta(mediaId, "avi", 0, 0, 0, b.length.toLong,
          Vector.empty, "decode_error")
      if (tagAt(b, at, "LIST") && at + 12 <= b.length) {
        if (tagAt(b, at + 8, "movi")) {
          // record the payload and SKIP it — frame bytes are not chunks
          moviAt = at + 12; moviLen = math.max(0, math.min(len - 4, b.length - moviAt))
          atL += 8L + len + (len & 1)
        } else atL += 12 // descend into hdrl-style LIST bodies
      } else {
        if (tagAt(b, at, "avih") && at + 8 + 56 <= b.length) {
          frames = r32(b, at + 8 + 16)
          streams = r32(b, at + 8 + 24)
          w = r32(b, at + 8 + 32); h = r32(b, at + 8 + 36)
        }
        atL += 8L + len + (len & 1)
      }
    }
    if (streams <= 0 || frames < 0)
      return MediaMeta(mediaId, "avi", 0, 0, 0, b.length.toLong,
        Vector.empty, "decode_error")
    val nCh = math.max(1, streams)
    val sums = new Array[Long](nCh)
    val counts = new Array[Long](nCh)
    if (moviAt >= 0) {
      var j = 0
      while (j < moviLen) {
        val c = j % nCh
        sums(c) += (b(moviAt + j) & 0xff); counts(c) += 1
        j += 1
      }
    }
    val feats = sums.indices.map(c =>
      if (counts(c) == 0) 0.0 else sums(c).toDouble / counts(c)).toVector
    MediaMeta(mediaId, "avi", w, h, streams, b.length.toLong, feats, "")
  }

  /** REAL MPEG-1 Layer III metadata parse: skip an ID3v2 tag (syncsafe
    * length), validate the first frame header (version/layer/bitrate/rate),
    * then walk frame-length strides counting frames. No audio decode (no JDK
    * mp3 codec) — bitrate/rate/channels/frame-count are header facts, the
    * feature stand-in is the payload byte mean. `width` carries the sample
    * rate and `height` the frame count (the WAV convention). Only MPEG-1
    * Layer III is in scope; other version/layer combinations land in the
    * taxonomy as `unsupported_codec`. */
  private def decodeMp3(mediaId: Long, b: Array[Byte]): MediaMeta = {
    var at = 0L
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val tagLen = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      at = 10L + tagLen
    }
    def fail(reason: String, rate: Int = 0, ch: Int = 0) =
      MediaMeta(mediaId, "mp3", rate, 0, ch, b.length.toLong, Vector.empty, reason)
    if (at + 4 > b.length) return fail("truncated")
    val h0 = b(at.toInt) & 0xff; val h1 = b(at.toInt + 1) & 0xff
    if (h0 != 0xff || (h1 & 0xe0) != 0xe0) return fail("decode_error")
    val version = (h1 >> 3) & 3 // 3 = MPEG-1
    val layer = (h1 >> 1) & 3   // 1 = Layer III
    if (version != 3 || layer != 1) return fail("unsupported_codec")
    val h2 = b(at.toInt + 2) & 0xff
    val brIdx = (h2 >> 4) & 0xf
    val srIdx = (h2 >> 2) & 3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return fail("decode_error")
    val rate = Mp3Rates(srIdx)
    val mode = ((b(at.toInt + 3) & 0xff) >> 6) & 3
    val ch = if (mode == 3) 1 else 2
    var frames = 0
    var paySum = 0L; var payN = 0L
    while (at + 4 <= b.length && (b(at.toInt) & 0xff) == 0xff &&
           ((b(at.toInt + 1) & 0xff) & 0xe0) == 0xe0) {
      val hh = b(at.toInt + 2) & 0xff
      val bi = (hh >> 4) & 0xf; val si = (hh >> 2) & 3
      if (bi == 0 || bi == 15 || si == 3) return fail("decode_error", rate, ch)
      val pad = (hh >> 1) & 1
      val fLen = 144 * Mp3Bitrates(bi) * 1000 / Mp3Rates(si) + pad
      val end = math.min(b.length.toLong, at + fLen)
      var k = at + 4
      while (k < end) { paySum += (b(k.toInt) & 0xff); payN += 1; k += 1 }
      frames += 1
      at += fLen
    }
    if (frames == 0) return fail("decode_error", rate, ch)
    val feats = Vector(if (payN == 0) 0.0 else paySum.toDouble / payN)
    MediaMeta(mediaId, "mp3", rate, frames, ch, b.length.toLong, feats, "")
  }

  /** MSB-first bit reader with exp-Golomb ue(v) over an unescaped RBSP. */
  private final class BitReader(b: Array[Byte]) {
    private var pos = 0
    def u(bits: Int): Int = {
      var v = 0; var k = 0
      while (k < bits) {
        val byteAt = pos >> 3
        if (byteAt >= b.length) throw new IndexOutOfBoundsException("rbsp")
        v = (v << 1) | ((b(byteAt) >> (7 - (pos & 7))) & 1)
        pos += 1; k += 1
      }
      v
    }
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) { zeros += 1; if (zeros > 31) throw new IllegalStateException("ue") }
      if (zeros == 0) 0 else ((1 << zeros) | u(zeros)) - 1
    }
  }

  /** Reverse the 00 00 03 emulation-prevention escape (H.264 §7.4.1.1). */
  private def unescapeRbsp(b: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(until - from)
    var zeros = 0
    var k = from
    while (k < until) {
      val v = b(k) & 0xff
      if (zeros >= 2 && v == 3) zeros = 0 // drop the escape byte
      else { out.write(v); zeros = if (v == 0) zeros + 1 else 0 }
      k += 1
    }
    out.toByteArray
  }

  /** REAL H.264 Annex-B metadata parse: start-code walk over NAL units, SPS
    * (type 7) exp-Golomb parse for profile/level and pixel geometry incl.
    * frame cropping, slice NALs (1/5) counted as the frame stand-in. No
    * picture decode (no JDK codec) — geometry and structure are header
    * facts. `channels` carries the slice-NAL count's stream analog (1). */
  private def decodeH264(mediaId: Long, b: Array[Byte]): MediaMeta = {
    // collect start-code offsets (both 3- and 4-byte forms)
    var w = 0; var h = 0; var slices = 0; var sawSps = false
    var paySum = 0L; var payN = 0L
    var k = 0
    // (start-code position, NAL header offset) pairs; NAL i's payload ends
    // where start code i+1 BEGINS
    val nals = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    while (k + 3 <= b.length) {
      if (b(k) == 0 && b(k + 1) == 0 && b(k + 2) == 1) {
        nals += ((k, k + 3)); k += 3
      } else if (k + 4 <= b.length && b(k) == 0 && b(k + 1) == 0 &&
                 b(k + 2) == 0 && b(k + 3) == 1) {
        nals += ((k, k + 4)); k += 4
      } else k += 1
    }
    if (nals.isEmpty)
      return MediaMeta(mediaId, "h264", 0, 0, 0, b.length.toLong,
        Vector.empty, "decode_error")
    val bounds = nals.zip(nals.drop(1).map(_._1) :+ b.length)
    for (((_, at), end) <- bounds if at < b.length) {
      val nalType = b(at) & 0x1f
      if (nalType == 7 && !sawSps) {
        try {
          val r = new BitReader(unescapeRbsp(b, at + 1, end))
          val profile = r.u(8); r.u(8); r.u(8) // profile, flags, level
          r.ue() // sps id
          if (profile == 100 || profile == 110 || profile == 122 || profile == 244 ||
              profile == 44 || profile == 83 || profile == 86) {
            // high-profile chroma block (not emitted by the writer, parsed
            // for generality): chroma_format_idc etc.
            val chroma = r.ue()
            if (chroma == 3) r.u(1)
            r.ue(); r.ue(); r.u(1)
            if (r.u(1) == 1) return MediaMeta(mediaId, "h264", 0, 0, 0,
              b.length.toLong, Vector.empty, "unsupported_codec") // scaling lists
          }
          r.ue() // log2_max_frame_num_minus4
          val poc = r.ue()
          if (poc == 0) r.ue()
          else if (poc == 1) {
            r.u(1); r.ue(); r.ue()
            val n = r.ue()
            var j = 0; while (j < n) { r.ue(); j += 1 }
          }
          r.ue(); r.u(1) // max_num_ref_frames, gaps flag
          val wMbs = r.ue() + 1
          val hUnits = r.ue() + 1
          val frameMbsOnly = r.u(1)
          if (frameMbsOnly == 0) r.u(1)
          r.u(1) // direct_8x8
          var cropL = 0; var cropR = 0; var cropT = 0; var cropB = 0
          if (r.u(1) == 1) { cropL = r.ue(); cropR = r.ue(); cropT = r.ue(); cropB = r.ue() }
          w = wMbs * 16 - 2 * (cropL + cropR)
          h = (2 - frameMbsOnly) * hUnits * 16 - 2 * (cropT + cropB)
          sawSps = true
        } catch { case _: Exception => /* malformed SPS: keep walking */ }
      } else if (nalType == 1 || nalType == 5) {
        slices += 1
        var j = at + 1
        while (j < end) { paySum += (b(j) & 0xff); payN += 1; j += 1 }
      }
    }
    if (!sawSps)
      return MediaMeta(mediaId, "h264", 0, 0, 0, b.length.toLong,
        Vector.empty, "decode_error")
    val feats = Vector(
      if (payN == 0) 0.0 else paySum.toDouble / payN, slices.toDouble)
    MediaMeta(mediaId, "h264", w, h, 1, b.length.toLong, feats, "")
  }

  /** REAL image decode via the JDK codecs: raster width/height/bands plus
    * per-channel pixel means (integer sample sums, one final division —
    * deterministic). Decode failures become taxonomy rows, never throws. */
  private def decodeImage(mediaId: Long, bytes: Array[Byte], fmt: String): MediaMeta = {
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null)
        return MediaMeta(mediaId, fmt, 0, 0, 0, bytes.length.toLong,
          Vector.empty, "decode_error")
      val r = img.getRaster
      val ch = r.getNumBands
      val sums = new Array[Long](ch)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          var c = 0
          while (c < ch) { sums(c) += r.getSample(x, y, c); c += 1 }
          x += 1
        }
        y += 1
      }
      val nPix = img.getWidth.toLong * img.getHeight
      val feats = sums.map(s => if (nPix == 0) 0.0 else s.toDouble / nPix).toVector
      MediaMeta(mediaId, fmt, img.getWidth, img.getHeight, ch,
        bytes.length.toLong, feats, "")
    } catch {
      case _: Exception =>
        MediaMeta(mediaId, fmt, 0, 0, 0, bytes.length.toLong,
          Vector.empty, "decode_error")
    }
  }

  /** GMB container decode — the documented audio/video stand-in (no JDK
    * codec exists for those): header metadata + per-channel payload byte
    * means, round-robin channel layout. */
  private def decodeGmb(mediaId: Long, bytes: Array[Byte]): MediaMeta = {
    val fmt = gmbFormats.lift(bytes(3).toInt).getOrElse("unknown")
    val w = ((bytes(4) & 0xff) << 8) | (bytes(5) & 0xff)
    val h = ((bytes(6) & 0xff) << 8) | (bytes(7) & 0xff)
    val ch = bytes(8) & 0xff
    val sums = new Array[Long](math.max(1, ch))
    val counts = new Array[Long](math.max(1, ch))
    var j = 9
    while (j < bytes.length) {
      val c = (j - 9) % math.max(1, ch)
      sums(c) += (bytes(j) & 0xff)
      counts(c) += 1
      j += 1
    }
    val feats = sums.indices.map(c =>
      if (counts(c) == 0) 0.0 else sums(c).toDouble / counts(c)).toVector
    MediaMeta(mediaId, fmt, w, h, ch, bytes.length.toLong, feats, "")
  }

  /** JPEG 2000 (JP2 container or raw codestream): header-level decode via
    * [[Jpx.dims]] — real geometry/component count from the validated SIZ/ihdr
    * (no JDK codec exists for EBCOT entropy data, same situation as AVI
    * frames), per-channel payload byte means as the deterministic feature
    * stand-in (the AVI `movi` convention). Malformed headers land in the
    * failure taxonomy. */
  private def decodeJp2(mediaId: Long, bytes: Array[Byte]): MediaMeta =
    Jpx.dims(bytes) match {
      case None =>
        MediaMeta(mediaId, "jp2", 0, 0, 0, bytes.length.toLong,
          Vector.empty, "decode_error")
      case Some(i) =>
        val ch = math.max(1, i.ncomp)
        val sums = new Array[Long](ch)
        val counts = new Array[Long](ch)
        var j = 0
        while (j < bytes.length) {
          val c = j % ch
          sums(c) += (bytes(j) & 0xff); counts(c) += 1; j += 1
        }
        val feats = sums.indices.map(c =>
          if (counts(c) == 0) 0.0 else sums(c).toDouble / counts(c)).toVector
        MediaMeta(mediaId, "jp2", i.w, i.h, i.ncomp, bytes.length.toLong, feats, "")
    }

  /** Decode one media payload: magic-sniff, then the real JDK image decoder
    * for PNG/JPEG/BMP or the GMB container parse for audio/video. Contract:
    * bytes in, typed meta + features out, failure taxonomy, no exceptions. */
  def decode(mediaId: Long, bytes: Array[Byte]): MediaMeta = {
    if (bytes == null || bytes.length < 9)
      return MediaMeta(mediaId, "unknown", 0, 0, 0,
        if (bytes == null) 0L else bytes.length.toLong, Vector.empty, "truncated")
    sniff(bytes) match {
      case "gmb" => decodeGmb(mediaId, bytes)
      case "wav" => decodeWav(mediaId, bytes)
      case "avi" => decodeAvi(mediaId, bytes)
      case "mp3" => decodeMp3(mediaId, bytes)
      case "h264" => decodeH264(mediaId, bytes)
      case "jp2"  => decodeJp2(mediaId, bytes)
      case "unknown" => MediaMeta(mediaId, "unknown", 0, 0, 0,
        bytes.length.toLong, Vector.empty, "bad_magic")
      case fmt => decodeImage(mediaId, bytes, fmt)
    }
  }
}
