package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Regression fixtures for the ADVICE r04 parser edges — real-writer shapes
  * the corpus twin never emits, hand-built here so each fix has a failing
  * counterexample on record:
  *  1. `/Info` dict housed INSIDE an /ObjStm container,
  *  2. `\<CR>` / `\<CRLF>` literal-string line continuations (§7.3.4.2),
  *  3. an indirect `/Filter N 0 R` reference on a content stream,
  *  4. a `%` comment in a content stream (§7.2.3),
  *  5. the `\b` and `\f` literal-string escapes (§7.3.4.2, Table 3),
  *  6. dict entries in another order or with less whitespace: `/UE` before
  *     `/U`, `/OE` before `/O`, `/Type/Page>>`, and a negative `/Rotate`,
  *  7. two /ObjStm containers numbered against their file order,
  *  8. `#xx` escapes in names (§7.3.5). */
class PdfEdgeSpec extends AnyFunSuite {

  private def bytes(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  test("docInfo resolves an /Info dict stored inside an /ObjStm container") {
    val inner = "5 0 << /Title (T) /Author (A) /Producer (ObjStmProducer) " +
      "/CreationDate (D:20200101000000Z) >>"
    val pdf =
      s"""%PDF-1.5
         |3 0 obj << /Type /ObjStm /N 1 /First 4 /Length ${inner.length} >> stream
         |$inner
         |endstream
         |endobj
         |trailer << /Size 6 /Root 1 0 R /Info 5 0 R >>
         |""".stripMargin
    val got = PdfLite.docInfo(bytes(pdf))
    assert(got.isDefined, "ObjStm-housed /Info not found")
    assert(got.get.producer == "ObjStmProducer")
    assert(got.get.title == "T")
  }

  test("literal-string \\<CR> and \\<CRLF> are line continuations, not CRs") {
    val pdf = "%PDF-1.4\n1 0 obj << /Producer (Py\\\rPDF) " +
      "/Title (A\\\r\nB) >> endobj\n"
    val got = PdfLite.docInfo(bytes(pdf))
    assert(got.isDefined)
    assert(got.get.producer == "PyPDF", s"got '${got.get.producer}'")
    assert(got.get.title == "AB", s"got '${got.get.title}'")
  }

  test("indirect /Filter reference on a content stream resolves and decodes") {
    val content = "BT /F1 12 Tf 72 700 Td (HelloIndirect) Tj ET"
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(content.getBytes("ISO-8859-1")); deflater.finish()
    val buf = new Array[Byte](1024)
    val n = deflater.deflate(buf)
    val flate = new String(buf, 0, n, "ISO-8859-1")
    val pdf =
      s"""%PDF-1.4
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >> endobj
         |4 0 obj << /Length ${flate.length} /Filter 6 0 R >> stream
         |$flate
         |endstream endobj
         |6 0 obj [ /FlateDecode ] endobj
         |""".stripMargin
    val parsed = PdfLite.parse(bytes(pdf))
    assert(parsed.items.exists(_.text == "HelloIndirect"),
      s"indirect /Filter stream did not decode: ${parsed.items.map(_.text)}")
  }

  test("a % comment in a content stream runs to the end of the line on both routes") {
    val pdf = PdfLiteSpec.onePage("BT /F1 10 Tf 10 180 Td (shown) Tj\n" +
      "% (hidden) Tj\n%(also hidden) Tj\r(after)Tj%(not shown) Tj\nET")
    assert(PdfLite.parse(pdf).items.map(_.text) == Vector("shown", "after"))
    assert(PdfLite.parseNative(pdf).items.map(_.text) == Vector("shownafter"))
  }

  test("\\b and \\f escapes decode to backspace and form feed everywhere") {
    val want = "x\by\fz"
    val pdf = PdfLiteSpec.onePage("BT /F1 10 Tf 10 180 Td (x\\by\\fz) Tj ET")
    assert(PdfLite.parse(pdf).items.map(_.text) == Vector(want))
    assert(PdfLite.parseNative(pdf).items.map(_.text) == Vector(want))
    val info = PdfLite.docInfo(bytes(
      "%PDF-1.4\n1 0 obj << /Producer (P) /Title (x\\by\\fz) >> endobj\n"))
    assert(info.map(_.title).contains(want))
  }

  // Dictionary entry order and whitespace are irrelevant to a dictionary's
  // meaning (§7.3.7, §7.2.2). Each case below edits the writer's own output
  // without changing its byte length, so xref offsets stay valid.

  private val Latin1 = "ISO-8859-1"
  private def onePage(msg: String) =
    Seq(PdfLite.PageSpec(1700, 1200, Seq(PdfLite.Run(100, 100, 12, msg))))
  private def textOf(p: PdfLite.Parsed): String = p.items.map(_.text).mkString(" ")

  /** Swap the adjacent entries `/a <hex>` and `/b <hex>` (in that order) into
    * `/b <hex> /a <hex>`; the byte length does not change. */
  private def swapHexEntries(pdf: Array[Byte], a: String, b: String): Array[Byte] = {
    val s = new String(pdf, Latin1)
    val ia = s.indexOf(s"/$a <")
    val ea = s.indexOf('>', ia) + 1
    val ib = s.indexOf(s"/$b <", ea)
    val eb = s.indexOf('>', ib) + 1
    assert(ia >= 0 && ib == ea + 1, s"/$a and /$b are not adjacent")
    val swapped = s.substring(0, ia) + s.substring(ib, eb) + " " +
      s.substring(ia, ea) + s.substring(eb)
    assert(swapped.length == s.length)
    swapped.getBytes(Latin1)
  }

  test("AES-256 with /UE written before /U opens with the empty password") {
    val msg = "Dock 7 manifest: 1482 units cleared for Tuesday"
    val pdf = swapHexEntries(PdfLite.writeDoc(onePage(msg), aes256 = true), "U", "UE")
    assert(new String(pdf, Latin1).contains("/UE <"))
    assert(textOf(PdfLite.parse(pdf)) == msg)
  }

  test("AES-256 with /OE written before /O opens with the owner password") {
    val msg = "Dock 7 manifest: 1482 units cleared for Tuesday"
    val pdf = swapHexEntries(PdfLite.writeDoc(onePage(msg), aes256 = true,
      userPw = "s3cret", ownerPw = "admin-9"), "O", "OE")
    assert(textOf(PdfLite.parse(pdf)).isEmpty)
    assert(textOf(PdfLite.parse(pdf, Seq("admin-9"))) == msg)
  }

  test("/Type/Page with no space and a trailing >> still makes a page leaf") {
    val pages = (1 to 3).map(k =>
      PdfLite.PageSpec(600, 800, Seq(PdfLite.Run(50, 60, 12, s"page number $k"))))
    val plain = PdfLite.writeDoc(pages, xref = true)
    // `<< /Type /Page /Parent … R >>` → `<< /Parent … R   /Type/Page>>`
    val s = new String(plain, Latin1)
    val leaf = "<< /Type /Page /Parent"
    val edited = new java.lang.StringBuilder
    var from = 0
    var at = s.indexOf(leaf)
    while (at >= 0) {
      val close = s.indexOf(" >>", at)
      edited.append(s, from, at).append("<< /Parent")
        .append(s, at + leaf.length, close).append("   /Type/Page>>")
      from = close + 3
      at = s.indexOf(leaf, from)
    }
    edited.append(s, from, s.length)
    val pdf = edited.toString
    assert(pdf.length == s.length && pdf.split("/Type/Page>>", -1).length == 4)
    val parsed = PdfLite.parse(pdf.getBytes(Latin1))
    assert(parsed.nPages == 3)
    assert(parsed.items.map(i => (i.page, i.text)) ==
      (1 to 3).map(k => (k, s"page number $k")))
    assert(PdfLite.dialect(pdf.getBytes(Latin1)).split(',').contains("multipage"))
  }

  test("/Rotate -90 reads the same as /Rotate 270") {
    val doc = Seq(PdfLite.PageSpec(1200, 1700, Seq(
      PdfLite.Run(100, 100, 12, "rotated text line"),
      PdfLite.Run(100, 300, 12, "second line"))))
    val r270 = PdfLite.writeDoc(doc, rotate = 270, winAnsi = true)
    val s = new String(r270, Latin1)
    assert(s.contains("/Rotate 270"))
    val rm90 = s.replace("/Rotate 270", "/Rotate -90").getBytes(Latin1)
    for (parse <- Seq[Array[Byte] => PdfLite.Parsed](PdfLite.parse(_), PdfLite.parseNative(_))) {
      val want = parse(r270)
      val got = parse(rm90)
      assert(want.items.nonEmpty)
      assert(got.items == want.items)
      assert((got.pageW, got.pageH) == (want.pageW, want.pageH))
    }
  }

  /** An unfiltered /ObjStm container `num` holding one link annotation,
    * object `annotNum`. */
  private def linkObjStm(num: Int, annotNum: Int, uri: String): String = {
    val header = s"$annotNum 0 "
    val annot = s"<< /Type /Annot /Subtype /Link /A << /S /URI /URI ($uri) >> >>"
    s"$num 0 obj << /Type /ObjStm /N 1 /First ${header.length} " +
      s"/Length ${header.length + annot.length} >> stream\n$header$annot\nendstream\nendobj\n"
  }

  test("links reads /ObjStm containers by number, not in file order") {
    val pdf = "%PDF-1.5\n" + linkObjStm(9, 20, "https://nine.example/") +
      linkObjStm(4, 21, "https://four.example/")
    assert(PdfLite.links(bytes(pdf)) ==
      Vector("https://four.example/", "https://nine.example/"))
  }

  test("a page leaf written /Type/P#61ge is a page") {
    val pages = (1 to 3).map(k =>
      PdfLite.PageSpec(600, 800, Seq(PdfLite.Run(50, 60, 12, s"page number $k"))))
    val s = new String(PdfLite.writeDoc(pages, xref = true), Latin1)
    // same length, so the xref offsets stay valid
    val pdf = s.replace("<< /Type /Page /Parent", "<< /Type/P#61ge/Parent")
    assert(pdf.length == s.length && pdf.split("/P#61ge", -1).length == 4)
    val parsed = PdfLite.parse(pdf.getBytes(Latin1))
    assert(parsed.nPages == 3)
    assert(parsed.items.map(i => (i.page, i.text)) ==
      (1 to 3).map(k => (k, s"page number $k")))
  }

  test("a font resource keyed /F#31 is the font that Tf /F1 selects") {
    val msg = "Invoice \u201cA\u20137\u201d total \u20ac40"
    val s = new String(PdfLite.writeDoc(onePage(msg), winAnsi = true), Latin1)
    assert(s.contains("/Font << /F1 "))
    val pdf = s.replace("/Font << /F1 ", "/Font << /F#31 ").getBytes(Latin1)
    assert(textOf(PdfLite.parse(pdf)) == msg)
    assert(textOf(PdfLite.parseNative(pdf)) == msg)
  }
}
