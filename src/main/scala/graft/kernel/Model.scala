package graft.kernel

/** Core data model of the extraction engine.
  *
  * Shapes mirror the reference's observable abstractions (SURVEY.md §1.1) but
  * are Spark-`Encoder`-friendly case classes: every field maps to a Catalyst
  * type (no `Map`, no `Any`), so `Dataset[ExtractedDoc]` gets a product encoder
  * for free and columns stay prunable.
  */

/** A positioned token — the reference's TextItem dict
  * (`extract.py:155-163`, `smart_extract.py:85-93`): all-int geometry,
  * confidence 0–100 (100 for native parses, `smart_extract.py:92`). */
final case class TextItem(
    text: String,
    page: Int,
    x: Int,
    y: Int,
    width: Int,
    height: Int,
    confidence: Int)

/** A vendor extraction template (`template.py:18-26`):
  * `tableBox = [x1,y1,x2,y2]`, `columns` = x-positions of separators (n+1 edges
  * for n columns). Broadcast once per job — never shuffled with the data. */
final case class Template(
    vendor: String,
    tableBox: Vector[Int],
    columns: Vector[Int],
    confidence: Double = 1.0,
    created: String = "",     // ISO metadata, registry-file provenance (template.py:23-24)
    modified: String = "") {

  /** Validation per `template.py:28-62`: returns a normalized copy or None.
    * (The reference mutates in place + auto-sorts/clamps; we normalize pure.) */
  def validated: Option[Template] = {
    if (tableBox.length != 4) return None
    val Vector(x1, y1, x2, y2) = tableBox
    if (x1 >= x2 || y1 >= y2) return None
    if (columns.length < 2) return None
    val sorted = columns.sorted // auto-sort, template.py:51-53
    // clamp first/last into box bounds, template.py:56-60
    val clamped = sorted.updated(0, math.max(sorted.head, x1))
    val fixed = clamped.updated(clamped.length - 1, math.min(clamped.last, x2))
    Some(copy(columns = fixed))
  }
}

/** Per-row/col cell span with synthetic geometry, for the `spans` output
  * column required by the north rule (table-cell spans per url). */
final case class CellSpan(row: Int, col: Int, x: Int, y: Int, w: Int, h: Int)

/** One page of a multi-page document, extracted independently — the S12
  * "split then process each page" semantic (`split_pdf.py:3-11` feeding the
  * batch loop) as data: `posexplode` these instead of splitting files. */
final case class PageExtract(page: Int, nItems: Int, text: String)

/** Quality report per document — the reference's QualityReport dataclass
  * (`quality.py:17-61`) minus wall-clock timestamp (determinism: no clock
  * inside compared bytes, SURVEY.md §7.5.5). */
final case class QualityReport(
    emptyRatio: Double,
    confidenceAvg: Double,
    rowConsistency: Boolean,
    columnAlignment: Boolean,
    textCoverage: Double,
    overallScore: Double,
    nRows: Int,
    nCols: Int,
    totalTextItems: Int,
    columnTypes: Vector[String],
    warnings: Vector[String],
    errors: Vector[String])

/** The engine's per-document output row. `extractedText` is the byte-compared
  * artifact (north rule: byte-identical extracted text per url); `failure` is
  * the per-row failure taxonomy replacing the reference batch driver's
  * try/except-continue (`ultimate_batch_processor.py:44-46`). */
final case class ExtractedDoc(
    url: String,
    route: String,            // "native" | "scanned" | "html" (detect analog, smart_extract.py:30-62)
    routeConfidence: Double,
    vendor: String,           // detected or "" (template.py:259-306)
    extractedText: String,    // byte-compared main text
    cells: Vector[Vector[String]],
    spans: Vector[CellSpan],
    quality: QualityReport,
    nItems: Int,
    nPages: Int,              // pages in the payload (extraction covers page 1, extract.py:102-104 parity)
    nBytes: Long,
    failure: String)          // "" = ok; else taxonomy code ("parse_error:...", "oversize", ...)

object ExtractedDoc {
  val emptyQuality: QualityReport =
    QualityReport(1.0, 0.0, rowConsistency = false, columnAlignment = false,
      0.0, 0.0, 0, 0, 0, Vector.empty, Vector.empty, Vector("Empty DataFrame"))

  /** Failure row constructor — extraction never fails a Spark task; errors
    * become taxonomy rows (SURVEY.md §4 "Failure isolation per document"). */
  def failed(url: String, nBytes: Long, code: String): ExtractedDoc =
    ExtractedDoc(url, "unknown", 0.0, "", "", Vector.empty, Vector.empty,
      emptyQuality, 0, 0, nBytes, code)
}
