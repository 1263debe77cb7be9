package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** ScalaCheck invariants for the kernel (SURVEY.md §5 "our strategy"):
  * properties that must hold for ANY input, not just golden cases.
  * (The scalatest-scalacheck bridge isn't in the offline cache, so
  * generators are sampled deterministically by hand.) */
class KernelPropertySpec extends AnyFunSuite {

  /** Deterministic property runner: n samples from a fixed seed. */
  private def forAll[A](gen: Gen[A], n: Int = 120)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default.withSize(60)
    var seed = org.scalacheck.rng.Seed(20260816L)
    var i = 0
    while (i < n) {
      gen.apply(params, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private val slicer = new Slicer(defaultRowThreshold = 20.0)
  private val checker = new QualityChecker()
  private val newark = Vendor.builtinTemplates("newark")

  private val genItem: Gen[TextItem] = for {
    text <- Gen.oneOf("189934", "FR1018", "$12.34", "1/2/25", "alpha beta",
      "x", "wide span text here", "", " ", "72 per case", "AB-9")
    x <- Gen.choose(0, 1700)
    y <- Gen.choose(0, 1200)
    w <- Gen.oneOf(0, 10, 40, 90, 200, 400)
    h <- Gen.choose(8, 20)
    conf <- Gen.choose(0, 100)
  } yield TextItem(text, 1, x, y, w, h, conf)

  private val genItems: Gen[List[TextItem]] =
    Gen.choose(0, 80).flatMap(n => Gen.listOfN(n, genItem))
      // all-zero-width rows legitimately raise (reference parity) — keep the
      // generator off that path so the remaining invariants are testable
      .map(_.filter(_.width > 0))

  test("grids are always rectangular (G8 padding)") {
    forAll(genItems) { items =>
      val grid = slicer.sliceToTable(items, newark.tableBox, newark.columns, Some(1))
      assert(grid.nonEmpty)
      assert(grid.map(_.length).distinct.length == 1)
    }
  }

  test("merge never increases row count and never loses non-blank cell text") {
    forAll(genItems) { items =>
      val inBox = slicer.filterInBox(items, newark.tableBox)
      if (inBox.nonEmpty) {
        val threshold = slicer.getAdaptiveRowThreshold(inBox)
        val rows = slicer.groupIntoRows(inBox, threshold)
        val binned = slicer.binIntoColumnsWithSplitting(rows, newark.columns)
        val maxCols = if (binned.nonEmpty) binned.map(_.length).max else 0
        binned.foreach { r => while (r.length < maxCols) r += "" }
        val wordsBefore = binned.flatMap(_.flatMap(Py.split(_))).sorted
        val merged = slicer.mergePartialRows(binned.map(_.clone()))
        assert(merged.length <= binned.length)
        val wordsAfter = merged.flatMap(_.flatMap(Py.split(_))).sorted
        assert(wordsAfter == wordsBefore, "merge changed the multiset of words")
      }
    }
  }

  test("coverage is within [0,1] and table words come from items (A6)") {
    forAll(genItems) { items =>
      val grid = slicer.sliceToTable(items, newark.tableBox, newark.columns, Some(1))
      val cov = checker.checkCoverage(grid, items)
      assert(cov >= 0.0 && cov <= 1.0)
    }
  }

  test("row clustering partitions the items (G2: no loss, no dup)") {
    forAll(genItems) { items =>
      if (items.nonEmpty) {
        val rows = slicer.groupIntoRows(items, 15.0)
        assert(rows.flatten.sortBy(i => (i.y, i.x, i.text)) ==
          items.sortBy(i => (i.y, i.x, i.text)))
      }
    }
  }

  test("HTML parser never throws on arbitrary input and extraction is total") {
    forAll(Gen.asciiPrintableStr, Gen.oneOf("", "<", "</", "<!--", "<table><tr><td>")) {
      (s, prefix) =>
        val r = Html.extract(prefix + s)
        assert(r.mainText != null && r.cells != null)
    }
  }

  test("PdfLite round-trip: written runs parse back with exact geometry") {
    val genRun: Gen[PdfLite.Run] = for {
      x <- Gen.choose(0, 1500)
      y <- Gen.choose(0, 1100)
      size <- Gen.oneOf(8, 10, 12, 14)
      text <- Gen.oneOf("hello", "a(b)c", "back\\slash", "tab\there", "189934",
        "72 per case 1 meal", "x")
    } yield PdfLite.Run(x, y, size, text)
    forAll(Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, genRun))) { runs =>
      // distinct y per run so line-sharing Td arithmetic stays exact
      val distinct = runs.groupBy(_.y).map(_._2.head).toVector.sortBy(r => (r.y, r.x))
      val bytes = PdfLite.write(1700, 1200, distinct)
      val parsed = PdfLite.parse(bytes)
      assert(parsed.pageW == 1700 && parsed.pageH == 1200)
      val expected = distinct.filter(r => Py.strip(r.text).nonEmpty)
      assert(parsed.items.length == expected.length)
      parsed.items.zip(expected).foreach { case (item, run) =>
        assert(item.text == Py.strip(run.text))
        assert(item.x == run.x, s"x: $item vs $run")
        assert(item.y == run.y, s"y: $item vs $run")
        assert(item.height == run.size)
        assert(item.width == (run.text.length * PdfLite.CharWidthFactor * run.size).toInt)
      }
    }
  }

  test("corpus generation is a pure function of (seed, index)") {
    forAll(Gen.choose(0L, 5000L)) { i =>
      val a = Corpus.page(i); val b = Corpus.page(i)
      assert(a.url == b.url && a.text == b.text &&
        java.util.Arrays.equals(a.html, b.html) && a.warc_ts == b.warc_ts)
    }
  }
}

/** Fuzz breadth over the two payload parsers: arbitrary bytes/strings must
  * never escape the extractor as exceptions, and identical input must give
  * identical output (the two invariants that survive any input at 10^12
  * docs). Complements AdversarialInputSpec's targeted cases. */
class ParserFuzzSpec extends AnyFunSuite {

  private def rngBytes(rng: java.util.Random, n: Int): Array[Byte] = {
    val a = new Array[Byte](n); rng.nextBytes(a); a
  }

  test("random bytes: extract never throws, always deterministic") {
    val rng = new java.util.Random(0xF00DL)
    for (i <- 0 until 300) {
      val b = rngBytes(rng, rng.nextInt(2000))
      val d1 = Extractor.extract(s"u$i", b, "", "en")
      val d2 = Extractor.extract(s"u$i", b, "", "en")
      assert(d1 == d2)
    }
  }

  test("random bytes behind a %PDF magic: PdfLite degrades, never throws") {
    val rng = new java.util.Random(0xBEEFL)
    for (i <- 0 until 300) {
      val body = rngBytes(rng, rng.nextInt(2000))
      val b = "%PDF-1.4\n".getBytes("UTF-8") ++ body
      val d = Extractor.extract(s"p$i", b, "", "en")
      assert(d.route == "native" || d.route == "scanned" || d.failure.nonEmpty)
    }
  }

  test("random tag soup: Html.parse is total and depth-bounded") {
    val rng = new java.util.Random(0xCAFEL)
    val frags = Array("<div>", "</div>", "<p ", ">", "txt ", "<a href=x>", "</a",
      "<table><tr><td>", "&amp;", "&#x", "<!--", "-->", "<![CDATA[", "]]>",
      "<script>", "</script>", "<", ">", "\"", "'", "=", "<br/>", "</b></i>")
    for (_ <- 0 until 300) {
      val sb = new StringBuilder
      for (_ <- 0 until rng.nextInt(200)) sb.append(frags(rng.nextInt(frags.length)))
      val html = sb.toString
      val r1 = Html.extract(html)
      val r2 = Html.extract(html)
      assert(r1 == r2)
    }
  }

  test("one-pass selectMain picks the recursive reference's main block") {
    // reference: a pre-order scan that scores every candidate outside chrome
    // by the recursive Html.ownStats and keeps the first strict maximum
    def reference(root: Html.Elem): Option[Html.Elem] = {
      var best: Html.Elem = null
      var bestScore = -1.0
      def walk(e: Html.Elem, inChrome: Boolean): Unit = {
        val chrome = inChrome || Set("nav", "header", "footer", "aside")(e.name)
        if (!chrome && Set("article", "main", "div", "section", "body")(e.name)) {
          val s = Html.ownStats(e)
          if (s.textLen > 0 && s.score > bestScore) { bestScore = s.score; best = e }
        }
        e.children.foreach { case el: Html.Elem => walk(el, chrome); case _ => }
      }
      walk(root, inChrome = false)
      Option(best)
    }
    def check(html: String): Unit = {
      val root = Html.parse(html)
      val (got, want) = (Html.selectMain(root), reference(root))
      assert(got.size == want.size && got.zip(want).forall { case (a, b) => a eq b },
        s"main block differs: <${got.map(_.name)}> vs <${want.map(_.name)}>")
    }
    for (i <- 0L until 60L) {
      val p = Corpus.page(i)
      if (!PdfLite.isPdf(p.html)) check(new String(p.html, "UTF-8"))
    }
    val rng = new java.util.Random(0xBEEFL)
    val frags = Array("<div>", "</div>", "<p>", "</p>", "text ", "<a href=x>",
      "</a>", "<main>", "</main>", "<nav>", "</nav>", "<section>", "link ",
      "<main class=\"a>b\">", "<A HREF='x&amp;y'>", "</A>", "<div\tid=z\n>",
      "<SECTION data-x=\"1\" hidden>", "<p class=lead/>")
    for (_ <- 0 until 100) {
      val sb = new StringBuilder
      for (_ <- 0 until rng.nextInt(120)) sb.append(frags(rng.nextInt(frags.length)))
      check(sb.toString)
    }
  }

  test("html output does not depend on attributes") {
    // every open tag rewritten to its bare name, a self-closing `/` kept; the
    // tag ends at its first `>`, as in Html.parse
    def bare(html: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < html.length) {
        val end =
          if (html.charAt(i) == '<' && i + 1 < html.length && html.charAt(i + 1).isLetter)
            html.indexOf('>', i)
          else -1
        if (end > 0) {
          val selfClose = html.charAt(end - 1) == '/'
          val body = html.substring(i + 1, if (selfClose) end - 1 else end)
          sb.append('<').append(body.takeWhile(!_.isWhitespace))
            .append(if (selfClose) "/>" else ">")
          i = end + 1
        } else { sb.append(html.charAt(i)); i += 1 }
      }
      sb.toString
    }
    var rewritten = 0
    for (i <- 0L until 2000L) {
      val p = Corpus.page(i)
      if (!PdfLite.isPdf(p.html)) {
        val html = new String(p.html, "UTF-8")
        val stripped = bare(html)
        if (stripped != html) rewritten += 1
        assert(Html.extract(stripped) == Html.extract(html), s"idx $i url ${p.url}")
      }
    }
    assert(rewritten > 500, s"only $rewritten pages carried attributes")
  }

  test("multimodal decode is total on random bytes") {
    val rng = new java.util.Random(0xD00DL)
    for (i <- 0 until 200) {
      val b = rngBytes(rng, rng.nextInt(600))
      val m = Multimodal.decode(i, b)
      assert(m.mediaId == i)
      assert(m == Multimodal.decode(i, b))
    }
  }
}
