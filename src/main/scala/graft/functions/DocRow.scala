package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.ExtractedDoc

/** Hand-rolled ExtractedDoc → InternalRow conversion.
  *
  * The generic product `ExpressionEncoder` walks the nested
  * `Vector[Vector[String]]` / `Vector[CellSpan]` / quality-struct shape with
  * reflective MapObjects loops — measured at ~25 core-ms/doc, 10× the cost of
  * the extraction kernel itself. This converter builds the same Catalyst
  * values directly (UTF8String / GenericArrayData / GenericInternalRow) in
  * one allocation pass; perfbench's traced run reports its cost as
  * `functions.docrow.ms_mean`. Field order MUST match the
  * case-class declaration order in [[graft.kernel.ExtractedDoc]] — the schema
  * below is asserted against the encoder schema in ExtractE2ESpec.
  */
object DocRow {

  val spanType: StructType = StructType(Seq(
    StructField("row", IntegerType, nullable = false),
    StructField("col", IntegerType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false)))

  val qualityType: StructType = StructType(Seq(
    StructField("emptyRatio", DoubleType, nullable = false),
    StructField("confidenceAvg", DoubleType, nullable = false),
    StructField("rowConsistency", BooleanType, nullable = false),
    StructField("columnAlignment", BooleanType, nullable = false),
    StructField("textCoverage", DoubleType, nullable = false),
    StructField("overallScore", DoubleType, nullable = false),
    StructField("nRows", IntegerType, nullable = false),
    StructField("nCols", IntegerType, nullable = false),
    StructField("totalTextItems", IntegerType, nullable = false),
    StructField("columnTypes", ArrayType(StringType, containsNull = true)),
    StructField("warnings", ArrayType(StringType, containsNull = true)),
    StructField("errors", ArrayType(StringType, containsNull = true))))

  val schema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("route", StringType),
    StructField("routeConfidence", DoubleType, nullable = false),
    StructField("vendor", StringType),
    StructField("extractedText", StringType),
    StructField("cells", ArrayType(ArrayType(StringType, containsNull = true), containsNull = true)),
    StructField("spans", ArrayType(spanType, containsNull = true)),
    StructField("quality", qualityType),
    StructField("nItems", IntegerType, nullable = false),
    StructField("nPages", IntegerType, nullable = false),
    StructField("nBytes", LongType, nullable = false),
    StructField("failure", StringType)))

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private def strArray(v: Vector[String]): GenericArrayData = {
    val a = new Array[Any](v.length)
    var i = 0
    while (i < v.length) { a(i) = utf8(v(i)); i += 1 }
    new GenericArrayData(a)
  }

  def toRow(d: ExtractedDoc): InternalRow = {
    val cells = {
      val a = new Array[Any](d.cells.length)
      var i = 0
      while (i < d.cells.length) { a(i) = strArray(d.cells(i)); i += 1 }
      new GenericArrayData(a)
    }
    val spans = {
      val a = new Array[Any](d.spans.length)
      var i = 0
      while (i < d.spans.length) {
        val s = d.spans(i)
        a(i) = new GenericInternalRow(
          Array[Any](s.row, s.col, s.x, s.y, s.w, s.h))
        i += 1
      }
      new GenericArrayData(a)
    }
    val q = d.quality
    val quality = new GenericInternalRow(Array[Any](
      q.emptyRatio, q.confidenceAvg, q.rowConsistency, q.columnAlignment,
      q.textCoverage, q.overallScore, q.nRows, q.nCols, q.totalTextItems,
      strArray(q.columnTypes), strArray(q.warnings), strArray(q.errors)))
    new GenericInternalRow(Array[Any](
      utf8(d.url), utf8(d.route), d.routeConfidence, utf8(d.vendor),
      utf8(d.extractedText), cells, spans, quality, d.nItems, d.nPages,
      d.nBytes, utf8(d.failure)))
  }
}
