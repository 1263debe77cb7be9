package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.RealPdf

/** Catalyst expression `pdf_table_grid(pdf_bytes)` →
  * `struct(n_items int, in_box int, raw_rows int,
  *         grid array&lt;array&lt;string&gt;&gt;)` — the native-route
  * (PyMuPDF-twin, [[graft.kernel.PdfLite.parseNative]]) template-extraction
  * funnel over ONE real PDF: positioned spans → newark-template box filter →
  * adaptive row clustering → column binning → partial-row merge
  * ([[graft.kernel.RealPdf.funnel]]). One narrow expression per document —
  * the same per-row kernel-map shape as `extract_doc`, so a binaryFile scan
  * over 10^9 PDFs stays a single shuffle-free stage. Total: garbage bytes
  * yield the slicer's sentinel grid, never a throw; a null payload yields
  * null. */
case class PdfTableGridExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def prettyName: String = "pdf_table_grid"
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_items", IntegerType, nullable = false),
    StructField("in_box", IntegerType, nullable = false),
    StructField("raw_rows", IntegerType, nullable = false),
    StructField("grid", ArrayType(ArrayType(StringType, containsNull = false),
      containsNull = false), nullable = false)))

  override protected def nullSafeEval(v: Any): Any = {
    val f = try RealPdf.funnel(v.asInstanceOf[Array[Byte]])
    catch { case _: Exception => RealPdf.Funnel(0, 0, 0, Vector.empty) }
    val grid = new GenericArrayData(f.grid.map(row =>
      new GenericArrayData(row.map(c =>
        UTF8String.fromString(c): AnyRef).toArray): AnyRef).toArray)
    InternalRow(f.nItems, f.inBox, f.rawRows, grid)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PdfTableGridExpr {
  def pdfTableGrid(pdf: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(PdfTableGridExpr(GraftColumnBridge.expression(pdf)))
  }
}
