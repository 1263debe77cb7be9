package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.kernel.Xlsx

/** Catalyst expression `xlsx_grid(cells)` → `binary` — one XLSX workbook per
  * document from its `array<array<string>>` cell grid, the S9 PRIMARY sink
  * artifact (`table_slicer.py:149-157`: `df.to_excel(..., index=False,
  * header=False)`) rendered by the deterministic kernel writer
  * ([[graft.kernel.Xlsx.write]]). Null when the grid exceeds Excel's sheet
  * limits — the condition that arms the reference's CSV fallback
  * (`table_slicer.py:158-162`); callers pair it with
  * [[CsvGrid.column]] via `coalesce`-style branching (see
  * `graft.spark.XlsxArtifactTableIO`). */
case class XlsxGridExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def prettyName: String = "xlsx_grid"
  override def inputTypes = Seq(ArrayType(ArrayType(StringType)))
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    val grid = v.asInstanceOf[ArrayData]
    val rows = (0 until grid.numElements()).map { r =>
      val row = grid.getArray(r)
      (0 until row.numElements()).map { c =>
        val u = row.getUTF8String(c)
        if (u == null) "" else u.toString
      }
    }
    try Xlsx.write(rows)
    catch { case _: IllegalArgumentException => null } // sheet limits → fallback
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object XlsxGrid {
  def column(cells: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(XlsxGridExpr(GraftColumnBridge.expression(cells)))
  }
}
