package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.{Extractor, Template, Vendor}

/** Catalyst expression `extract_doc(url, html, text, lang)` → ExtractedDoc
  * struct — the column-API / SQL face of the kernel (the mapPartitions path in
  * [[graft.spark.ExtractPipeline]] is the bulk path; this one composes with
  * arbitrary projections, e.g. `SELECT extract_doc(...).quality.overallScore`).
  *
  * `CodegenFallback` is deliberate: the kernel is opaque Scala — generated
  * code would just call back into it, buying nothing (SURVEY.md §2.11). The
  * expression is non-deterministic-free, null-intolerant on url, and returns
  * a failure-taxonomy struct rather than throwing (per-row failure isolation).
  */
case class ExtractDocExpr(children: Seq[Expression],
                          templates: Map[String, Template] = Vendor.builtinTemplates,
                          passwords: Seq[String] = Nil)
    extends Expression with CodegenFallback {

  require(children.length == 4, "extract_doc(url, html, text, lang)")

  /** Analysis-time input contract ([[ExtractArgs]], shared with
    * extract_pages): misuse (e.g. an int html column) fails in the analyzer,
    * not as a per-row ClassCastException at runtime; html may be BINARY or
    * STRING; NULL literals are accepted (eval handles them). */
  override def checkInputDataTypes(): TypeCheckResult =
    ExtractArgs.check("extract_doc", children)

  override def dataType: DataType = DocRow.schema
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val u = children(0).eval(input)
    if (u == null) return null
    val html = ExtractArgs.htmlBytes("extract_doc", children(1).eval(input))
    val doc = Extractor.extract(
      u.asInstanceOf[UTF8String].toString,
      html,
      ExtractArgs.str(children(2).eval(input)),
      ExtractArgs.str(children(3).eval(input)),
      templates,
      passwords)
    // hand-rolled conversion — the generic encoder serializer is ~10× the
    // kernel cost (see DocRow scaladoc)
    DocRow.toRow(doc)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ExtractDocExpr {
  /** Column-API helper: `df.select(extractDoc($"url", $"html", $"text", $"lang"))`. */
  def extractDoc(url: Column, html: Column, text: Column, lang: Column): Column =
    extractDoc(url, html, text, lang, Vendor.builtinTemplates)

  /** As above with an explicit template registry (serialized into the
    * expression — registries are KBs; for a huge registry broadcast it and
    * use the mapPartitions path instead). */
  def extractDoc(url: Column, html: Column, text: Column, lang: Column,
                 templates: Map[String, Template]): Column =
    extractDoc(url, html, text, lang, templates, Nil)

  /** As above with a crawl-wide password try-list for REAL-password
    * documents (serialized into the expression like the registry; tried
    * user-then-owner per candidate, empty password always first — see
    * [[graft.kernel.PdfLite.parse]]). */
  def extractDoc(url: Column, html: Column, text: Column, lang: Column,
                 templates: Map[String, Template],
                 passwords: Seq[String]): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(ExtractDocExpr(
      Seq(url, html, text, lang).map(GraftColumnBridge.expression), templates,
      passwords))
  }
}

/** `SparkSessionExtensions` hook registering `extract_doc` for SQL use:
  * `spark.sql("SELECT extract_doc(url, html, text, lang).extractedText FROM pages")`.
  * Enable via `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("extract_doc"),
      new ExpressionInfo(classOf[ExtractDocExpr].getName, "extract_doc"),
      (exprs: Seq[Expression]) => ExtractDocExpr(exprs)))
    ext.injectFunction((
      FunctionIdentifier("extract_pages"),
      new ExpressionInfo(classOf[ExtractPagesExpr].getName, "extract_pages"),
      (exprs: Seq[Expression]) => ExtractPagesExpr(exprs)))
    ext.injectFunction((
      FunctionIdentifier("pdf_links"),
      new ExpressionInfo(classOf[PdfLinksExpr].getName, "pdf_links"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "pdf_links(html)")
        PdfLinksExpr(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("pdf_meta"),
      new ExpressionInfo(classOf[PdfMetaExpr].getName, "pdf_meta"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, "pdf_meta(html)")
        PdfMetaExpr(exprs.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("sim_ratio"),
      new ExpressionInfo(classOf[SimRatio].getName, "sim_ratio"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "sim_ratio(a, b)")
        SimRatio(exprs.head, exprs(1))
      }))
  }
}
