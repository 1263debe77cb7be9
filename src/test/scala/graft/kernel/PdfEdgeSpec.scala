package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Regression fixtures for the ADVICE r04 parser edges — real-writer shapes
  * the corpus twin never emits, hand-built here so each fix has a failing
  * counterexample on record:
  *  1. `/Info` dict housed INSIDE an /ObjStm container,
  *  2. `\<CR>` / `\<CRLF>` literal-string line continuations (§7.3.4.2),
  *  3. an indirect `/Filter N 0 R` reference on a content stream,
  *  4. a `%` comment in a content stream (§7.2.3),
  *  5. the `\b` and `\f` literal-string escapes (§7.3.4.2, Table 3). */
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
}
