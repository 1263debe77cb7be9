package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.PdfLite

/** Catalyst expression `pdf_meta(html)` →
  * struct&lt;title,author,producer,created&gt; — the document-information
  * dictionary ([[PdfLite.docInfo]]: trailer `/Info` resolve with a
  * structural fallback for trailer-less files). Producer/creation-date are
  * the provenance signals a training-data pipeline keys dedup cohorts and
  * writer-bug quarantines on. Null struct when the payload is not a PDF or
  * carries no info dict (or is null); never throws. */
case class PdfMetaExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def prettyName: String = "pdf_meta"
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = PdfMetaExpr.schema
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any =
    PdfLite.docInfo(v.asInstanceOf[Array[Byte]]).map { di =>
      InternalRow(UTF8String.fromString(di.title), UTF8String.fromString(di.author),
        UTF8String.fromString(di.producer), UTF8String.fromString(di.created))
    }.orNull

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfMetaExpr {
  val schema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = false),
    StructField("author", StringType, nullable = false),
    StructField("producer", StringType, nullable = false),
    StructField("created", StringType, nullable = false)))

  def pdfMeta(html: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(PdfMetaExpr(GraftColumnBridge.expression(html)))
  }
}
