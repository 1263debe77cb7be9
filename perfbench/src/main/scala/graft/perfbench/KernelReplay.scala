package graft.perfbench

import java.nio.charset.StandardCharsets
import graft.functions.DocRow
import graft.kernel._

/** Single-threaded replay of workload rows through the public kernel
  * functions, in `Extractor.extract`'s order. Each row is extracted once
  * whole (the `kernel.extract` span, followed by `functions.docrow` on its
  * result) and once stage by stage (`kernel.stages` and its children), so
  * the stage spans can be reconciled against the whole call. */
final class KernelReplay(spans: Spans) {
  private val templates = Vendor.builtinTemplates
  private val keywords = Vendor.registryKeywords(templates)
  private val slicer = new Slicer(defaultRowThreshold = Extractor.PipelineRowThreshold)
  private val checker = new QualityChecker()

  // per-document facts the metrics are grouped by
  private val routeOf = scala.collection.mutable.Map.empty[String, String]
  private val encrypted = scala.collection.mutable.Set.empty[String]
  private var pdfDocs = 0
  private var templateHits = 0

  def replay(url: String, payload: Array[Byte], text: String, lang: String): Unit = {
    val root = spans.open("kernel.replay", -1, url)
    val (doc, _) = spans.time("kernel.extract", root, url)(
      Extractor.extract(url, payload, text, lang, templates))
    spans.time("functions.docrow", root, url)(DocRow.toRow(doc))
    routeOf(url) = doc.route
    if (doc.failure.isEmpty) {
      if (PdfLite.isPdf(payload)) {
        // the census call stays outside every span
        if (PdfLite.dialect(payload).contains("enc:")) encrypted += url
        pdfStages(root, url, payload, text)
      } else htmlStages(root, url, payload)
    }
    spans.close(root)
  }

  private def pdfStages(root: Int, url: String, payload: Array[Byte], text: String): Unit = {
    val st = spans.open("kernel.stages", root, url)
    // whichever of the two parses runs second finds the payload in cache:
    // alternate their order so neither side gets that advantage every time
    val structureFirst = pdfDocs % 2 == 0
    if (structureFirst) spans.time("kernel.pdf.structure", st, url)(PdfLite.parseStructureOnly(payload))
    val (parsed, _) = spans.time("kernel.pdf.parse", st, url)(PdfLite.parse(payload))
    if (!structureFirst) spans.time("kernel.pdf.structure", st, url)(PdfLite.parseStructureOnly(payload))
    val (route, _) = Extractor.detectRoute(isPdf = true, text, parsed.hasImage)
    val page1 = parsed.items.filter(_.page == 1)
    val items =
      if (route == "scanned")
        spans.time("kernel.scanned_conf", st, url)(Extractor.applyScannedConfidence(url, page1))._1
      else page1
    val (template, _) = spans.time("kernel.vendor", st, url) {
      Vendor.detectVendor(items, keywords).flatMap(v => Vendor.getTemplate(v, templates))
    }
    pdfDocs += 1
    if (template.isDefined) templateHits += 1
    val (grid, _) = spans.time("kernel.slice", st, url) {
      template match {
        case Some(t) => slicer.sliceToTable(items, t.tableBox, t.columns, page = Some(1))
        case None =>
          Extractor.layoutText(items).split("\n", -1).toVector.filter(_.nonEmpty).map(Vector(_))
      }
    }
    spans.time("kernel.quality", st, url)(checker.checkExtraction(grid, items))
    spans.close(st)
  }

  private def htmlStages(root: Int, url: String, payload: Array[Byte]): Unit = {
    val st = spans.open("kernel.stages", root, url)
    val html = new String(payload, StandardCharsets.UTF_8)
    spans.time("kernel.html.parse", st, url)(Html.parse(html))
    val (res, _) = spans.time("kernel.html.extract", st, url)(Html.extract(html))
    spans.time("kernel.vendor", st, url)(Vendor.detectVendor(res.items, keywords))
    val grid =
      if (res.cells.nonEmpty) res.cells
      else res.mainText.split("\n", -1).toVector.filter(_.nonEmpty).map(Vector(_))
    spans.time("kernel.quality", st, url)(checker.checkExtraction(grid, res.items))
    spans.close(st)
  }

  /** Mean kernel.extract milliseconds over every replayed document. */
  def extractMsMean: Double = Stats.mean(spans.named("kernel.extract").map(_.ms))

  def docrowMsMean: Double = Stats.mean(spans.named("functions.docrow").map(_.ms))

  def metrics: Seq[(String, Double)] = {
    def ms(name: String, keep: Span => Boolean = _ => true): Vector[Double] =
      spans.named(name).filter(keep).map(_.ms)
    def kb(name: String): Double =
      Stats.mean(spans.named(name).map(_.allocBytes / 1024.0))
    def byUrl(name: String): Map[String, Double] =
      spans.named(name).groupMapReduce(_.doc)(_.ms)(_ + _)
    val extract = spans.named("kernel.extract")
    val parse = byUrl("kernel.pdf.parse")
    val structure = byUrl("kernel.pdf.structure")
    val htmlParse = byUrl("kernel.html.parse")
    val htmlExtract = byUrl("kernel.html.extract")
    val stageNames = Set("kernel.pdf.parse", "kernel.scanned_conf", "kernel.vendor",
      "kernel.slice", "kernel.quality", "kernel.html.extract")
    val stageMs = spans.all.filter(s => stageNames(s.name))
      .groupMapReduce(_.doc)(_.ms)(_ + _)

    val perRoute = Seq("html", "native", "scanned").flatMap { r =>
      val docs = extract.filter(s => routeOf(s.doc) == r)
      val whole = docs.map(_.ms).sum
      val covered = docs.map(s => stageMs.getOrElse(s.doc, 0.0)).sum
      Seq(
        s"kernel.extract.$r.ms_p50" -> Stats.pct(docs.map(_.ms), 0.50),
        s"kernel.extract.$r.ms_p99" -> Stats.pct(docs.map(_.ms), 0.99),
        s"kernel.extract.$r.alloc_kb" -> Stats.mean(docs.map(_.allocBytes / 1024.0)),
        s"kernel.coverage.$r" -> (if (whole > 0) covered / whole else 0.0),
        s"kernel.docs.$r" -> docs.length.toDouble)
    }
    perRoute ++ Seq(
      "kernel.pdf.structure.ms_mean" -> Stats.mean(structure.values.toSeq),
      "kernel.pdf.interpret.ms_mean" ->
        Stats.mean(parse.toSeq.map { case (u, p) => p - structure.getOrElse(u, 0.0) }),
      "kernel.pdf.parse.alloc_kb" -> kb("kernel.pdf.parse"),
      "kernel.pdf.parse.enc.ms_mean" -> Stats.mean(ms("kernel.pdf.parse", s => encrypted(s.doc))),
      "kernel.pdf.parse.plain.ms_mean" -> Stats.mean(ms("kernel.pdf.parse", s => !encrypted(s.doc))),
      "kernel.html.parse.ms_mean" -> Stats.mean(htmlParse.values.toSeq),
      // Html.extract parses internally; its own work is the remainder
      "kernel.html.extract.ms_mean" ->
        Stats.mean(htmlExtract.toSeq.map { case (u, e) => e - htmlParse.getOrElse(u, 0.0) }),
      "kernel.html.alloc_kb" -> kb("kernel.html.extract"),
      "kernel.scanned_conf.ms_mean" -> Stats.mean(ms("kernel.scanned_conf")),
      "kernel.vendor.ms_mean" -> Stats.mean(ms("kernel.vendor")),
      "kernel.slice.ms_mean" -> Stats.mean(ms("kernel.slice")),
      "kernel.quality.ms_mean" -> Stats.mean(ms("kernel.quality")),
      "kernel.vendor.template_hit_ratio" ->
        (if (pdfDocs > 0) templateHits.toDouble / pdfDocs else 0.0),
      "functions.docrow.ms_mean" -> docrowMsMean,
      "functions.docrow.alloc_kb" -> kb("functions.docrow"))
  }
}
