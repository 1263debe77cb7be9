package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.PdfLite

/** Catalyst expression `pdf_dialect(html)` → string — the writer-dialect
  * census tag set of one payload ([[PdfLite.dialect]]): xref form, stream
  * filters, encryption flavor, font mechanisms, image codecs. The crawl-ops
  * "what formats are actually in my corpus" scan that sizes which parser
  * tiers matter before committing a 100-TB extraction run. Total like every
  * kernel expression: malformed payloads tag, they never throw; a null
  * payload tags `empty`. */
case class PdfDialectExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def prettyName: String = "pdf_dialect"
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    UTF8String.fromString(PdfLite.dialect(child.eval(input).asInstanceOf[Array[Byte]]))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfDialectExpr {
  def pdfDialect(html: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(PdfDialectExpr(GraftColumnBridge.expression(html)))
  }
}
