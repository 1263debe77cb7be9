package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

class JpxSpec extends AnyFunSuite {

  test("raw codestream headers validate across geometries and component counts") {
    for ((w, h, nc) <- Seq((1, 1, 1), (640, 480, 3), (1728, 2339, 1),
                           (97, 31, 4), (4096, 4096, 3), (800, 1100, 1))) {
      val d = Jpx.dims(Jpx.encode(w, h, nc))
      assert(d.contains(Jpx.Image(w, h, nc)), s"$w x $h x$nc")
    }
  }

  test("JP2 box containers validate and agree with ihdr") {
    for ((w, h, nc) <- Seq((640, 480, 3), (1728, 2339, 1), (33, 21, 3))) {
      val d = Jpx.dims(Jpx.encodeJp2(w, h, nc))
      assert(d.contains(Jpx.Image(w, h, nc)), s"$w x $h x$nc jp2")
    }
  }

  test("every truncation of a valid payload fails closed") {
    for (bytes <- Seq(Jpx.encode(640, 480, 3), Jpx.encodeJp2(640, 480, 3));
         n <- 0 until bytes.length by 7) {
      assert(Jpx.dims(bytes.take(n)).isEmpty, s"prefix $n of ${bytes.length}")
    }
  }

  test("malformed headers fail closed") {
    assert(Jpx.dims(Array.emptyByteArray).isEmpty)
    assert(Jpx.dims(Array.fill[Byte](64)(0x7F)).isEmpty)
    // SIZ length field inconsistent with Csiz
    val badLsiz = Jpx.encode(100, 100, 1)
    badLsiz(5) = (badLsiz(5) + 3).toByte
    assert(Jpx.dims(badLsiz).isEmpty, "Lsiz != 38+3*Csiz must fail")
    // zero-width canvas (Xsiz == XOsiz)
    val zeroW = Jpx.encode(100, 100, 1)
    zeroW(19) = 100 // XOsiz low byte = Xsiz
    assert(Jpx.dims(zeroW).isEmpty, "empty image grid must fail")
    // strip COD: splice it out of the main header → mandatory marker missing
    val full = Jpx.encode(100, 100, 1)
    val codAt = 4 + 41 // SOC + SIZ(marker+Lsiz for 1 comp)
    assert((full(codAt) & 0xFF) == 0xFF && (full(codAt + 1) & 0xFF) == 0x52)
    val noCod = full.take(codAt) ++ full.drop(codAt + 2 + 12)
    assert(Jpx.dims(noCod).isEmpty, "missing COD must fail")
    // ihdr/SIZ disagreement inside a JP2 container
    val jp2 = Jpx.encodeJp2(640, 480, 3)
    val ihdrAt = 12 + 20 + 8 + 8 // sig + ftyp + jp2h hdr + ihdr hdr
    jp2(ihdrAt + 7) = (jp2(ihdrAt + 7) ^ 1).toByte // WIDTH low byte
    assert(Jpx.dims(jp2).isEmpty, "ihdr/SIZ width mismatch must fail")
  }

  test("PDF with a valid JPX image routes as scanned; corrupt payload does not") {
    for (container <- Seq(false, true)) {
      val bytes = if (container) Jpx.encodeJp2(800, 1100, 3)
                  else Jpx.encode(800, 1100, 3)
      val pdf = PdfLite.writeDoc(Seq(PdfLite.PageSpec(1700, 1200, Seq.empty)),
        scanned = true, jpxImage = Some(Jpx.Payload(bytes, 800, 1100)))
      assert(PdfLite.parse(pdf).hasImage,
        s"valid JPX payload (jp2=$container) must count as pixels")
      // zero the codestream head: the bare /JPXDecode marker must not promote
      val bad = pdf.clone()
      val s = new String(bad, java.nio.charset.StandardCharsets.ISO_8859_1)
      val bodyAt = s.indexOf("stream\n", s.indexOf("/JPXDecode")) + 7
      for (i <- 0 until 8) bad(bodyAt + i) = 0
      assert(!PdfLite.parse(bad).hasImage,
        s"corrupt JPX payload (jp2=$container) must not count as pixels")
    }
  }

  test("declared /Width//Height must agree with the codestream") {
    val pdf = PdfLite.writeDoc(Seq(PdfLite.PageSpec(1700, 1200, Seq.empty)),
      scanned = true,
      jpxImage = Some(Jpx.Payload(Jpx.encode(640, 480, 3), 800, 1100)))
    assert(!PdfLite.parse(pdf).hasImage,
      "dict geometry disagreeing with SIZ must not count as pixels")
  }

  test("JPX image inside an encrypted PDF still validates after decryption") {
    val pdf = PdfLite.writeDoc(Seq(PdfLite.PageSpec(1700, 1200, Seq.empty)),
      scanned = true,
      jpxImage = Some(Jpx.Payload(Jpx.encodeJp2(96, 64, 1), 96, 64)),
      aes256 = true)
    assert(PdfLite.parse(pdf).hasImage)
  }

  test("standalone JP2/J2K payloads decode through the multimodal path") {
    for (bytes <- Seq(Jpx.encodeJp2(320, 240, 3), Jpx.encode(320, 240, 3))) {
      assert(Multimodal.sniff(bytes) == "jp2")
      val m = Multimodal.decode(7L, bytes)
      assert(m.format == "jp2" && m.failure.isEmpty)
      assert(m.width == 320 && m.height == 240 && m.channels == 3)
      assert(m.features.length == 3)
    }
    // corrupt header → taxonomy row, never a throw
    val bad = Jpx.encodeJp2(320, 240, 3)
    bad(21) = 0x7F // ftyp brand byte: no longer a jp2-family file
    val m = Multimodal.decode(8L, bad)
    assert(m.format == "jp2" && m.failure == "decode_error")
  }

  test("dialect census tags /JPXDecode as img:jpx") {
    val pdf = PdfLite.writeDoc(Seq(PdfLite.PageSpec(1700, 1200, Seq.empty)),
      scanned = true,
      jpxImage = Some(Jpx.Payload(Jpx.encode(64, 64, 1), 64, 64)))
    assert(PdfLite.dialect(pdf).split(",").contains("img:jpx"))
  }

  // encodeJp2's layout: signature [0,12), ftyp [12,32), jp2h [32,77) holding
  // ihdr [40,62) and colr [62,77), then the jp2c box from 77
  private val JpHdrAt = 32
  private val JpCodeAt = 77
  private def u32be(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  test("a JP2 container without the jp2h/ihdr header fails closed") {
    val full = Jpx.encodeJp2(640, 480, 3)
    assert(Jpx.dims(full).isDefined)
    val noHeader = full.take(JpHdrAt) ++ full.drop(JpCodeAt)
    assert(Jpx.dims(noHeader).isEmpty, "jp2c accepted with no jp2h/ihdr before it")
    // jp2h after the codestream is no header for it either (I.5.3)
    val headerLast = full.take(JpHdrAt) ++ full.drop(JpCodeAt) ++ full.slice(JpHdrAt, JpCodeAt)
    assert(Jpx.dims(headerLast).isEmpty, "jp2h must precede jp2c")
  }

  test("a malformed box inside jp2h fails the container") {
    val bad = Jpx.encodeJp2(640, 480, 3)
    bad(JpHdrAt + 8 + 3) = 23 // ihdr LBox 22 → 23: a 15-byte ihdr that eats into colr
    assert(Jpx.dims(bad).isEmpty, "a broken jp2h interior was skipped over")
  }

  test("a jp2c nested inside jp2h is not the codestream") {
    val full = Jpx.encodeJp2(640, 480, 3)
    val header = full.slice(JpHdrAt + 8, JpCodeAt) // ihdr + colr
    val code = full.drop(JpCodeAt)                 // the whole jp2c box
    val nested = full.take(JpHdrAt) ++ u32be(8 + header.length + code.length) ++
      "jp2h".getBytes("US-ASCII") ++ header ++ code
    assert(Jpx.dims(nested).isEmpty, "jp2c inside jp2h was validated")
  }

  test("the main-header walk stops at the end of an embedded codestream") {
    // a codestream whose last main-header segment (a COM) runs exactly to its
    // end, so its own bytes supply the trailing EOC; the SOT the walk would
    // need lies only in the container bytes after the jp2c box
    val cs = Jpx.encode(640, 480, 1)
    val sotAt = 4 + (38 + 3) + 14 + 9 // SOC+SIZ, COD, QCD
    assert((cs(sotAt) & 0xFF) == 0xFF && (cs(sotAt + 1) & 0xFF) == 0x90)
    val com = Array(0xFF, 0x64, 0x00, 0x06, 0x00, 0x01, 0xFF, 0xD9).map(_.toByte)
    val headerOnly = cs.take(sotAt) ++ com
    assert(Jpx.dims(headerOnly).isEmpty, "no tile-part at all")
    val jp2 = Jpx.encodeJp2(640, 480, 1)
    val sot = Array(0xFF, 0x90, 0x00, 0x0A, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x01)
      .map(_.toByte) // SOT, Lsot 10, Isot 0, Psot 0 ("to EOC"), TPsot 0, TNsot 1
    val wrapped = jp2.take(JpCodeAt) ++ u32be(8 + headerOnly.length) ++
      "jp2c".getBytes("US-ASCII") ++ headerOnly ++ sot
    assert(Jpx.dims(wrapped).isEmpty, "the walk read a SOT past the codestream's end")
  }
}

