package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.PdfLite

/** Catalyst expression `pdf_links(html)` → array&lt;string&gt; — every
  * link-annotation target URI in the payload ([[PdfLite.links]]: `/Annots`
  * arrays, inline-dict and indirect-object layouts, `/A << /S /URI >>`
  * actions). The outlink surface a crawl frontier feeds on: explode it and
  * you have the PDF half of the link graph. Total — malformed payloads and
  * non-PDF bytes yield an empty array, never a throw; so does a null
  * payload. */
case class PdfLinksExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def prettyName: String = "pdf_links"
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val ls = PdfLite.links(child.eval(input).asInstanceOf[Array[Byte]])
    new GenericArrayData(ls.map(l => UTF8String.fromString(l): AnyRef).toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfLinksExpr {
  def pdfLinks(html: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(PdfLinksExpr(GraftColumnBridge.expression(html)))
  }
}
