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
  * struct — the column-API / SQL face of the kernel and the production job's
  * kernel map ([[graft.spark.ExtractJob]]); it composes with arbitrary
  * projections, e.g. `SELECT extract_doc(...).quality.overallScore`. The
  * template registry and password list ride in the expression itself.
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
  /** Column-API helper: `df.select(extractDoc($"url", $"html", $"text", $"lang"))`.
    * The template registry and the crawl-wide password try-list for
    * REAL-password documents (tried user-then-owner per candidate, empty
    * password always first — see [[graft.kernel.PdfLite.parse]]) are
    * serialized into the expression: registries are KBs. */
  def extractDoc(url: Column, html: Column, text: Column, lang: Column,
                 templates: Map[String, Template] = Vendor.builtinTemplates,
                 passwords: Seq[String] = Nil): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(ExtractDocExpr(
      Seq(url, html, text, lang).map(GraftColumnBridge.expression), templates,
      passwords))
  }
}

/** `SparkSessionExtensions` hook registering the kernel's functions for SQL
  * use: `spark.sql("SELECT extract_doc(url, html, text, lang).extractedText FROM pages")`.
  * Enable via `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    // (SQL name, expression class, arity, builder)
    Seq[(String, Class[_], Int, Seq[Expression] => Expression)](
      ("extract_doc", classOf[ExtractDocExpr], 4, ExtractDocExpr(_)),
      ("extract_pages", classOf[ExtractPagesExpr], 4, ExtractPagesExpr(_)),
      ("pdf_links", classOf[PdfLinksExpr], 1, e => PdfLinksExpr(e.head)),
      ("pdf_meta", classOf[PdfMetaExpr], 1, e => PdfMetaExpr(e.head)),
      ("sim_ratio", classOf[SimRatio], 2, e => SimRatio(e.head, e(1)))
    ).foreach { case (name, cls, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == arity, s"$name takes $arity arguments, got ${exprs.length}")
          build(exprs)
        }))
    }
}
