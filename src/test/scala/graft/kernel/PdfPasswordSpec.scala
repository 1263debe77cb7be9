package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Real (non-empty) password handling — the PyMuPDF `authenticate` contract
  * the reference relies on (`smart_extract.py:64-97`). Fixtures are written
  * by the repo's own writer with `userPw`/`ownerPw` set; the reader's
  * password try-list must open each flavor with the right password (user OR
  * owner route) and must stay opaque without it. */
class PdfPasswordSpec extends AnyFunSuite {

  private val Msg = "Dock 7 manifest: 1482 units cleared for Tuesday"

  private def onePage(text: String) =
    Seq(PdfLite.PageSpec(1700, 1200, Seq(PdfLite.Run(100, 100, 12, text))))

  private def textOf(p: PdfLite.Parsed): String = p.items.map(_.text).mkString(" ")

  private val flavors: Seq[(String, (String, String) => Array[Byte])] = Seq(
    "RC4 V2/R3" -> ((u: String, o: String) =>
      PdfLite.writeDoc(onePage(Msg), encrypt = true, userPw = u, ownerPw = o)),
    "AES-128 V4/R4" -> ((u: String, o: String) =>
      PdfLite.writeDoc(onePage(Msg), aes = true, userPw = u, ownerPw = o)),
    "AES-256 V5/R6" -> ((u: String, o: String) =>
      PdfLite.writeDoc(onePage(Msg), aes256 = true, userPw = u, ownerPw = o)))

  for ((name, write) <- flavors) {
    test(s"$name: correct USER password opens, wrong/no password stays opaque") {
      val pdf = write("s3cret", "admin-9")
      assert(!textOf(PdfLite.parse(pdf)).contains("manifest"),
        "opened without a password")
      assert(!textOf(PdfLite.parse(pdf, Seq("wrong", "alsowrong")))
        .contains("manifest"), "opened with wrong passwords")
      val ok = PdfLite.parse(pdf, Seq("wrong", "s3cret"))
      assert(textOf(ok).contains(Msg), s"items=${ok.items.map(_.text)}")
    }

    test(s"$name: OWNER password opens via the owner route") {
      val pdf = write("s3cret", "admin-9")
      val ok = PdfLite.parse(pdf, Seq("admin-9"))
      assert(textOf(ok).contains(Msg), s"items=${ok.items.map(_.text)}")
    }

    test(s"$name: empty-password documents ignore the try-list cost-free") {
      val pdf = write("", "")
      assert(textOf(PdfLite.parse(pdf)).contains(Msg))
      assert(textOf(PdfLite.parse(pdf, Seq("irrelevant"))).contains(Msg))
      assert(PdfLite.parse(pdf).items == PdfLite.parse(pdf, Seq("x")).items)
    }
  }

  test("owner-password recovery is exact: Algorithm 7 reverse returns the padded user pw") {
    val user = "s3cret".getBytes("ISO-8859-1")
    val owner = "admin-9".getBytes("ISO-8859-1")
    val o = PdfCrypt.oValue(owner, user)
    val recovered = PdfCrypt.userPwFromOwner(owner, o)
    assert(recovered.sameElements(PdfCrypt.padded(user)))
  }

  test("writer with empty passwords is byte-identical to the legacy empty-password writer") {
    // floors/corpus stability: the default path must not move a single byte
    for (mk <- Seq(
      () => (PdfLite.writeDoc(onePage(Msg), encrypt = true),
             PdfLite.writeDoc(onePage(Msg), encrypt = true, userPw = "", ownerPw = "")),
      () => (PdfLite.writeDoc(onePage(Msg), aes256 = true),
             PdfLite.writeDoc(onePage(Msg), aes256 = true, userPw = "", ownerPw = "")))) {
      val (a, b) = mk()
      assert(java.util.Arrays.equals(a, b))
    }
  }

  // NOTE: no separate parseNative test — the try-list enters parseImpl's
  // one open step (`Doc`) BEFORE any route split, so parse and parseNative share
  // the seam byte-for-byte (the overload is a one-line dispatch); the
  // native route itself is pinned on real files by RealPdfSpec, and the
  // synthetic writer's span shapes are outside its structured-text contract.
}
