package graft.kernel

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO
import org.scalatest.funsuite.AnyFunSuite

/** Real image decode (VERDICT r02 next-round #4): PNG/JPEG/BMP fixtures are
  * generated IN-TEST with `ImageIO.write` and must decode to exact raster
  * metadata and per-channel pixel means — no stand-in container involved. */
class MultimodalSpec extends AnyFunSuite {

  private def solidRgb(w: Int, h: Int, r: Int, g: Int, b: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val ras = img.getRaster
    for (y <- 0 until h; x <- 0 until w) {
      ras.setSample(x, y, 0, r); ras.setSample(x, y, 1, g); ras.setSample(x, y, 2, b)
    }
    img
  }

  private def enc(img: BufferedImage, fmt: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  test("solid-color PNG decodes to exact size, channels and means") {
    val m = Multimodal.decode(1, enc(solidRgb(10, 5, 10, 200, 30), "png"))
    assert(m.failure.isEmpty && m.format == "png")
    assert(m.width == 10 && m.height == 5 && m.channels == 3)
    assert(m.features == Vector(10.0, 200.0, 30.0))
  }

  test("grayscale PNG decodes with one channel") {
    val img = new BufferedImage(7, 7, BufferedImage.TYPE_BYTE_GRAY)
    val ras = img.getRaster
    for (y <- 0 until 7; x <- 0 until 7) ras.setSample(x, y, 0, 77)
    val m = Multimodal.decode(2, enc(img, "png"))
    assert(m.failure.isEmpty && m.format == "png")
    assert(m.width == 7 && m.height == 7 && m.channels == 1)
    assert(m.features == Vector(77.0))
  }

  test("BMP decodes to exact means") {
    val m = Multimodal.decode(3, enc(solidRgb(12, 9, 0, 128, 255), "bmp"))
    assert(m.failure.isEmpty && m.format == "bmp")
    assert(m.width == 12 && m.height == 9 && m.channels == 3)
    assert(m.features == Vector(0.0, 128.0, 255.0))
  }

  test("JPEG decodes with lossy-but-close means") {
    val m = Multimodal.decode(4, enc(solidRgb(16, 16, 60, 120, 180), "jpg"))
    assert(m.failure.isEmpty && m.format == "jpeg")
    assert(m.width == 16 && m.height == 16 && m.channels == 3)
    m.features.zip(Seq(60.0, 120.0, 180.0)).foreach { case (got, want) =>
      assert(math.abs(got - want) < 8.0, s"jpeg mean drifted: $got vs $want")
    }
  }

  test("truncated PNG lands in the failure taxonomy, never throws") {
    val whole = enc(solidRgb(10, 10, 1, 2, 3), "png")
    val m = Multimodal.decode(5, whole.take(16))
    assert(m.format == "png" && m.failure == "decode_error")
  }

  test("hand-built WAV decodes to exact rate, frames, channels and sample means") {
    // canonical 44-byte header + 4 stereo PCM16 frames with known samples
    val ch = 2; val rate = 16000; val frames = 4
    val samples = Array[Short](100, -200, 300, -400, 500, -600, 700, -800)
    val b = new Array[Byte](44 + samples.length * 2)
    def tag(at: Int, t: String): Unit = t.zipWithIndex.foreach { case (c, k) => b(at + k) = c.toByte }
    def le32(at: Int, v: Int): Unit = (0 until 4).foreach(k => b(at + k) = ((v >> (8 * k)) & 0xff).toByte)
    def le16(at: Int, v: Int): Unit = (0 until 2).foreach(k => b(at + k) = ((v >> (8 * k)) & 0xff).toByte)
    tag(0, "RIFF"); le32(4, 36 + samples.length * 2); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, ch); le32(24, rate)
    le32(28, rate * ch * 2); le16(32, ch * 2); le16(34, 16)
    tag(36, "data"); le32(40, samples.length * 2)
    samples.zipWithIndex.foreach { case (s, k) => le16(44 + 2 * k, s & 0xffff) }
    val m = Multimodal.decode(10, b)
    assert(m.failure.isEmpty && m.format == "wav")
    assert(m.width == rate && m.height == frames && m.channels == ch)
    // channel 0: (100+300+500+700)/4 = 400; channel 1: (-200-400-600-800)/4 = -500
    assert(m.features == Vector(400.0, -500.0))
  }

  test("non-PCM WAV lands in unsupported_codec, truncated RIFF never throws") {
    val wav = Multimodal.blob((0L until 500L).find(i =>
      Multimodal.decode(i, Multimodal.blob(i)).format == "wav").get)
    val mulaw = wav.clone(); mulaw(20) = 7 // audioFormat = mu-law
    assert(Multimodal.decode(11, mulaw).failure == "unsupported_codec")
    val m = Multimodal.decode(12, wav.take(20))
    assert(m.format == "wav" && m.failure == "decode_error")
  }

  test("hand-built MPEG-1 Layer III stream: header facts decode exactly") {
    // two frames: sync+MPEG1+LayerIII (FF FB), bitrate idx 9 = 128 kbit/s,
    // rate idx 0 = 44100 Hz, stereo; frameLen = 144*128000/44100 = 417
    val frameLen = 417
    val frame = Array.fill[Byte](frameLen)(0x10)
    frame(0) = 0xff.toByte; frame(1) = 0xfb.toByte
    frame(2) = 0x90.toByte; frame(3) = 0x00
    val mp3 = frame ++ frame
    val m = Multimodal.decode(40, mp3)
    assert(m.failure.isEmpty && m.format == "mp3", m)
    assert(m.width == 44100 && m.height == 2 && m.channels == 2)
    assert(m.features == Vector(16.0)) // payload bytes are all 0x10
    // an ID3v2 tag in front is skipped by its syncsafe length
    val id3 = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 4) ++
      Array.fill[Byte](4)(0x7a) ++ mp3
    val m2 = Multimodal.decode(41, id3)
    assert(m2.failure.isEmpty && m2.height == 2 && m2.width == 44100)
    // MPEG-2 (version bits 10) is out of scope -> unsupported_codec
    val v2 = mp3.clone(); v2(1) = 0xf3.toByte
    assert(Multimodal.decode(42, v2).failure == "unsupported_codec")
    // a reserved bitrate index is a corrupt header
    val bad = mp3.clone(); bad(2) = 0xf0.toByte
    assert(Multimodal.decode(43, bad).failure == "decode_error")
  }

  test("hand-built H.264 Annex-B stream: SPS geometry decodes exactly") {
    // SPS: Baseline/3.0, pic_width_in_mbs=4, map_units=3 -> 64 x 48 px
    val sps = Array[Byte](0, 0, 0, 1, 0x67,
      0x42, 0x00, 0x1e, 0xf4.toByte, 0x23, 0x88.toByte)
    val slice = Array[Byte](0, 0, 0, 1, 0x65, 0x10, 0x20, 0x30, 0x40)
    val m = Multimodal.decode(44, sps ++ slice)
    assert(m.failure.isEmpty && m.format == "h264", m)
    assert(m.width == 64 && m.height == 48 && m.channels == 1)
    assert(m.features == Vector(40.0, 1.0)) // slice payload mean, slice count
    // a stream with start codes but no SPS cannot report geometry
    val noSps = Multimodal.decode(45, slice)
    assert(noSps.format == "h264" && noSps.failure == "decode_error")
  }

  test("blob generator mixes real images with real WAV/AVI/MP3/H264 containers") {
    val metas = (0L until 300L).map(i => Multimodal.decode(i, Multimodal.blob(i)))
    val byFormat = metas.groupBy(_.format)
    for (f <- Seq("png", "jpeg", "bmp", "wav", "avi", "mp3", "h264"))
      assert(byFormat.contains(f), s"format $f missing from the blob mix")
    // the GMB stand-in is retired from the generator: only real containers
    assert(!byFormat.contains("image") && !byFormat.contains("audio") &&
      !byFormat.contains("video"), "GMB must no longer appear in the blob mix")
    // every MP3 walks its frame headers cleanly
    assert(byFormat("mp3").forall(m => m.failure.isEmpty && m.width >= 32000 &&
      m.height >= 4 && m.channels >= 1 && m.features.length == 1))
    // every H.264 stream parses its SPS: MB-aligned geometry, slice census
    assert(byFormat("h264").forall(m => m.failure.isEmpty && m.width % 16 == 0 &&
      m.height % 16 == 0 && m.width >= 16 && m.features.length == 2 &&
      m.features(1) >= 1.0))
    // every real-image payload decodes cleanly with raster-backed metadata
    metas.filter(m => Set("png", "jpeg", "bmp")(m.format)).foreach { m =>
      assert(m.failure.isEmpty && m.width >= 8 && m.height >= 8 &&
        m.features.length == m.channels)
    }
    // every WAV decodes cleanly: real sample means per channel
    val wavs = byFormat("wav")
    assert(wavs.forall(m => m.failure.isEmpty && m.width >= 8000 &&
      m.height >= 64 && m.features.length == m.channels))
    // every AVI parses its MainAVIHeader
    val avis = byFormat("avi")
    assert(avis.forall(m => m.failure.isEmpty && m.width >= 64 &&
      m.height >= 64 && m.channels >= 1 && m.features.length == m.channels))
  }

  test("a JP2 signature with a corrupted tail sniffs as unknown, not jp2") {
    val good = Jpx.encodeJp2(320, 240, 3)
    assert(Multimodal.sniff(good) == "jp2")
    // the first 8 signature bytes intact, the 0D 0A 87 0A tail broken
    for (i <- 8 until 12) {
      val bad = good.clone()
      bad(i) = (bad(i) ^ 0x40).toByte
      assert(Multimodal.sniff(bad) == "unknown", s"signature byte $i")
      val m = Multimodal.decode(9L, bad)
      assert(m.format == "unknown" && m.failure == "bad_magic", s"signature byte $i: $m")
    }
  }
}
