package graft.kernel

import java.nio.charset.StandardCharsets

/** The whole per-document pipeline as ONE pure function `Page → ExtractedDoc`
  * (SURVEY.md §0: that purity is exactly what makes the reference graftable
  * onto Spark). Spark's only job is to run this at scale; no Spark types here.
  *
  * Chain per document (EP3 trace, SURVEY.md §3):
  * route sniff (S5 analog) → payload parse (S4 analog: PDF-lite layout walk or
  * HTML boilerplate strip) → confidence filter (S3) → vendor detect (A1) →
  * template lookup (J1/J2) → slice (G1–G9) → quality (A2–A8) → ExtractedDoc.
  * Exceptions become failure-taxonomy rows, never task failures
  * (`ultimate_batch_processor.py:44-46` → per-row `failure` column).
  */
object Extractor {

  val ConfidenceThreshold = 60        // extract.py:34
  val PipelineRowThreshold = 20.0     // table_slicer.py:57
  val MaxBytes: Long = 100L * 1024 * 1024

  private val slicer = new Slicer(defaultRowThreshold = PipelineRowThreshold)
  private val checker = new QualityChecker()

  /** FNV-1a 64-bit — deterministic pseudo-confidence source for the scanned
    * route (the reference's Tesseract confidences are an environment effect;
    * here they are a pure function of (url, item index) so the oracle and the
    * engine agree byte-for-byte). */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= (s.charAt(i) & 0xffffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Route detection — analog of `detect_pdf_type` (smart_extract.py:30-62):
    * meaningful pre-extracted text ⇒ native with conf min(1, len/1000);
    * image marker ⇒ scanned 0.9; else scanned 0.5. HTML payloads route "html". */
  def detectRoute(isPdf: Boolean, text: String, hasImage: Boolean): (String, Double) = {
    if (!isPdf) ("html", 1.0)
    else {
      val textLength = Py.strip(text).length
      if (textLength > 100) ("native", math.min(1.0, textLength / 1000.0))
      else if (hasImage) ("scanned", 0.9)
      else ("scanned", 0.5)
    }
  }

  /** Scanned-route confidence assignment + S3 source filter
    * (conf > 60 && non-blank, extract.py:153-154). */
  def applyScannedConfidence(url: String, items: Vector[TextItem]): Vector[TextItem] =
    items.zipWithIndex.map { case (it, idx) =>
      val conf = 40 + (java.lang.Long.remainderUnsigned(fnv1a64(url + "#" + idx), 60L)).toInt
      it.copy(confidence = conf)
    }.filter(it => it.confidence > ConfidenceThreshold && Py.strip(it.text).nonEmpty)

  /** Template-less layout text: rows via G2 clustering, x-ordered, space-joined
    * — the generic "main content" rendering of a positioned-text page. */
  def layoutText(items: Seq[TextItem]): String = {
    if (items.isEmpty) return ""
    val threshold = slicer.getAdaptiveRowThreshold(items)
    slicer.groupIntoRows(items, threshold)
      .map(row => row.sortBy(_.x).map(_.text).mkString(" "))
      .mkString("\n")
  }

  def extract(url: String, payload: Array[Byte], text: String, lang: String,
              templates: Map[String, Template] = Vendor.builtinTemplates,
              passwords: Seq[String] = Nil): ExtractedDoc = {
    val nBytes = if (payload == null) 0L else payload.length.toLong
    if (payload == null || payload.isEmpty)
      return ExtractedDoc.failed(url, nBytes, "empty_payload")
    if (nBytes > MaxBytes)
      return ExtractedDoc.failed(url, nBytes, "oversize") // app.py:121-130 analog
    try {
      val pdf = PdfLite.isPdf(payload)
      if (pdf) extractPdf(url, payload, text, nBytes, templates, passwords)
      else extractHtml(url, payload, nBytes, templates)
    } catch {
      case e: Exception =>
        ExtractedDoc.failed(url, nBytes, s"parse_error:${e.getClass.getSimpleName}")
      case _: StackOverflowError =>
        // defense-in-depth behind Html.MaxDepth: a hostile payload must cost
        // a taxonomy row, never a task (at 10^12 docs every shape occurs)
        ExtractedDoc.failed(url, nBytes, "parse_error:StackOverflowError")
    }
  }

  /** Per-page extraction — S12 done Spark-natively: where the reference
    * splits a PDF into page FILES and loops (`split_pdf.py:3-11`,
    * `ultimate_batch_processor.py:30-46`), here every page is extracted with
    * the same route/vendor/slice chain and the caller `posexplode`s the
    * result. Page 1 of a PDF reproduces [[extract]]'s text exactly (same
    * items, same confidence function). Failures yield an empty vector (the
    * doc contributes no page rows — the taxonomy lives on the doc-level row). */
  def extractPages(url: String, payload: Array[Byte], text: String, lang: String,
                   templates: Map[String, Template] = Vendor.builtinTemplates)
      : Vector[PageExtract] = {
    if (payload == null || payload.isEmpty || payload.length > MaxBytes)
      return Vector.empty
    try {
      if (PdfLite.isPdf(payload)) {
        val parsed = PdfLite.parse(payload)
        val (route, _) = detectRoute(isPdf = true, text, parsed.hasImage)
        (1 to parsed.nPages).toVector.map { p =>
          val page = extractPdfPage(url, parsed, route, p, templates)
          PageExtract(p, page.items.length, page.text)
        }
      } else {
        val doc = extract(url, payload, text, lang, templates)
        if (doc.failure.nonEmpty) Vector.empty
        else Vector(PageExtract(1, doc.nItems, doc.extractedText))
      }
    } catch {
      case _: Exception => Vector.empty
      case _: StackOverflowError => Vector.empty
    }
  }

  /** One page of a parsed PDF through the rest of the chain. `cells` is the
    * sliced grid when a template matched, else empty; `text` is that grid
    * tab/newline-joined, else the page's layout text. */
  private final case class PdfPage(items: Vector[TextItem], vendor: Option[String],
                                   template: Option[Template],
                                   cells: Vector[Vector[String]], text: String)

  /** Page filter → scanned confidence (S3) → vendor (A1) → template
    * (J1/J2) → slice (G1–G9) or layout text, for page `page` of `parsed`. */
  private def extractPdfPage(url: String, parsed: PdfLite.Parsed, route: String, page: Int,
                             templates: Map[String, Template]): PdfPage = {
    val pageItems = parsed.items.filter(_.page == page)
    val items =
      if (route == "scanned") applyScannedConfidence(url, pageItems)
      else pageItems // native: conf already 100, blank-stripped at parse
    // A1 vendor detection: registry names first, then the reference
    // pipeline's curated keyword sets (table_slicer.py:44-52)
    val vendor = Vendor.detectVendor(items, Vendor.registryKeywords(templates))
    val template = vendor.flatMap(v => Vendor.getTemplate(v, templates))
    template match {
      case Some(t) =>
        val cells = slicer.sliceToTable(items, t.tableBox, t.columns, page = Some(page))
        PdfPage(items, vendor, template, cells, cells.map(_.mkString("\t")).mkString("\n"))
      case None =>
        PdfPage(items, vendor, None, Vector.empty, layoutText(items))
    }
  }

  /** The non-empty lines of `text`, one cell each: the grid quality scores
    * when there is no sliced table. */
  private def lineGrid(text: String): Vector[Vector[String]] =
    text.split("\n", -1).toVector.filter(_.nonEmpty).map(Vector(_))

  private def extractPdf(url: String, payload: Array[Byte], text: String,
                         nBytes: Long, templates: Map[String, Template],
                         passwords: Seq[String]): ExtractedDoc = {
    // password try-list: crawl-wide credentials for real-password documents
    // (PyMuPDF `authenticate` analog); empty-password docs cost nothing extra
    val parsed =
      if (passwords.isEmpty) PdfLite.parse(payload)
      else PdfLite.parse(payload, passwords)
    val (route, routeConf) = detectRoute(isPdf = true, text, parsed.hasImage)
    // page-1 truncation parity (extract.py:102-104, smart_extract.py:70):
    // the per-document result covers page 1; multi-page processing is the
    // explode operator's job (S12 → posexplode of pages)
    val page = extractPdfPage(url, parsed, route, 1, templates)
    val spans = page.template.toVector.flatMap { t =>
      for {
        (row, r) <- page.cells.zipWithIndex
        (cell, c) <- row.zipWithIndex
        if cell.nonEmpty && c + 1 < t.columns.length
      } yield CellSpan(r, c, t.columns(c), r, t.columns(c + 1) - t.columns(c), 1)
    }
    val grid = if (page.template.isDefined) page.cells else lineGrid(page.text)
    val quality = checker.checkExtraction(grid, page.items)
    ExtractedDoc(url, route, routeConf, page.vendor.getOrElse(""), page.text,
      page.cells, spans, quality, page.items.length, parsed.nPages, nBytes, "")
  }

  private def extractHtml(url: String, payload: Array[Byte],
                          nBytes: Long, templates: Map[String, Template]): ExtractedDoc = {
    val html = new String(payload, StandardCharsets.UTF_8)
    val res = Html.extract(html)
    val vendor = Vendor.detectVendor(res.items, Vendor.registryKeywords(templates))
    val grid = if (res.cells.nonEmpty) res.cells else lineGrid(res.mainText)
    val quality0 = checker.checkExtraction(grid, res.items)
    // surface MaxDepth flattening (Html.scala cap) instead of diverging
    // silently on legitimately deep real-world pages
    val quality =
      if (res.depthCapped)
        quality0.copy(warnings = quality0.warnings :+ "DOM depth cap reached; nesting flattened")
      else quality0
    ExtractedDoc(url, "html", 1.0, vendor.getOrElse(""), res.mainText,
      res.cells, res.spans, quality, res.items.length, 1, nBytes, "")
  }
}
