package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import graft.kernel.{PdfLite, RealPdf, SeqMatcher, Xlsx}
import graft.spark.SparkTestBase

/** The single-payload kernel functions (`pdf_meta`, `pdf_links`,
  * `pdf_dialect`, `pdf_table_grid`, `xlsx_grid`) and `sim_ratio`: each one
  * returns what the direct kernel call returns, has a fixed answer for a null
  * payload, and rejects a wrong input type in the analyzer with an error
  * that names the SQL function. */
class KernelFunctionsSpec extends SparkTestBase {

  private lazy val pdf: Array[Byte] = PdfLite.writeDoc(
    Seq(PdfLite.PageSpec(612, 792, Seq(
      PdfLite.Run(72, 72, 12, "Invoice 1042"),
      PdfLite.Run(72, 96, 12, "Total due 17.50")))),
    links = Seq("https://a.test/one", "https://b.test/two"),
    info = Some(PdfLite.DocInfo("Invoice", "Billing", "graft writer", "D:20240102030405")))

  private val garbage: Array[Byte] = "%PDF-1.4 truncated \u0000\u0001 nothing else".getBytes("ISO-8859-1")

  /** Rows `(id, payload)`: the PDF, garbage bytes and a null payload. */
  private def payloads: DataFrame = {
    import spark.implicits._
    Seq[(Int, Option[Array[Byte]])]((0, Some(pdf)), (1, Some(garbage)), (2, None))
      .toDF("id", "b")
  }

  private def byId(c: Column): Map[Int, Any] =
    payloads.select(col("id"), c).collect().map(r => r.getInt(0) -> r.get(1)).toMap

  test("pdf_meta, pdf_links and pdf_dialect equal the direct kernel calls") {
    assert(PdfLite.links(pdf).nonEmpty && PdfLite.docInfo(pdf).isDefined)
    val meta = byId(PdfMetaExpr.pdfMeta(col("b")))
    val links = byId(PdfLinksExpr.pdfLinks(col("b")))
    val dialect = byId(PdfDialectExpr.pdfDialect(col("b")))
    for ((id, bytes) <- Seq(0 -> pdf, 1 -> garbage)) {
      assert(meta(id) == PdfLite.docInfo(bytes)
        .map(d => Row(d.title, d.author, d.producer, d.created)).orNull, id)
      assert(links(id) == PdfLite.links(bytes), id)
      assert(dialect(id) == PdfLite.dialect(bytes), id)
    }
    // a null payload: no info dict, no links, the "empty" tag
    assert(meta(2) == null)
    assert(links(2) == Seq.empty)
    assert(dialect(2) == "empty")
  }

  test("pdf_table_grid equals the direct funnel call") {
    val got = byId(PdfTableGridExpr.pdfTableGrid(col("b")))
    def want(bytes: Array[Byte]): Row = {
      val f = try RealPdf.funnel(bytes)
      catch { case _: Exception => RealPdf.Funnel(0, 0, 0, Vector.empty) }
      Row(f.nItems, f.inBox, f.rawRows, f.grid)
    }
    assert(got(0) == want(pdf))
    assert(got(1) == want(garbage))
    assert(got(2) == null)
  }

  test("xlsx_grid equals the kernel writer, null past Excel's limits or for null cells") {
    import spark.implicits._
    val fits = Vector(Vector("a", "b"), Vector("c", ""))
    val wide = Vector(Vector.fill(Xlsx.MaxCols + 1)("x"))
    val got = Seq[(Int, Option[Vector[Vector[String]]])](
        (0, Some(fits)), (1, Some(wide)), (2, None))
      .toDF("id", "cells").select(col("id"), XlsxGrid.column(col("cells")))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(java.util.Arrays.equals(got(0), Xlsx.write(fits)))
    assert(got(1) == null)
    assert(got(2) == null)
  }

  test("sim_ratio equals difflib's ratio and is null on a null side") {
    import spark.implicits._
    val rows = Seq[(String, String)](("newark", "newrak"), ("sysco", "syscoo"), (null, "x"))
      .toDF("a", "b").select(SimRatio.column(col("a"), col("b"))).collect().map(_.get(0))
    assert(rows(0) == SeqMatcher.ratio("newark", "newrak"))
    assert(rows(1) == SeqMatcher.ratio("sysco", "syscoo"))
    assert(rows(2) == null)
  }

  test("a wrong input type fails analysis, naming the SQL function") {
    import spark.implicits._
    val ints = Seq((1, 2)).toDF("i", "j")
    // the message quotes the failing call by its SQL name, e.g. `"pdf_links(i)"`
    def fails(name: String)(q: => DataFrame): Unit = {
      val e = intercept[AnalysisException](q.collect())
      assert(e.getMessage.contains(s"\"$name("), e.getMessage)
    }
    fails("pdf_meta")(ints.select(PdfMetaExpr.pdfMeta(col("i"))))
    fails("pdf_links")(ints.select(PdfLinksExpr.pdfLinks(col("i"))))
    fails("pdf_dialect")(ints.select(PdfDialectExpr.pdfDialect(col("i"))))
    fails("pdf_table_grid")(ints.select(PdfTableGridExpr.pdfTableGrid(col("i"))))
    fails("xlsx_grid")(ints.select(XlsxGrid.column(col("i"))))
    fails("sim_ratio")(ints.select(SimRatio.column(col("i"), col("j"))))
    ints.createOrReplaceTempView("kernel_fn_ints")
    for (q <- Seq("pdf_meta(i)", "pdf_links(i)", "sim_ratio(i, j)"))
      fails(q.takeWhile(_ != '('))(spark.sql(s"SELECT $q FROM kernel_fn_ints"))
  }

  test("a NULL literal is accepted and gives the null-payload result") {
    val one = spark.sql("SELECT pdf_meta(NULL) AS m, pdf_links(NULL) AS l, " +
      "sim_ratio(NULL, 'a') AS r").head()
    assert(one.isNullAt(0) && one.getSeq[String](1).isEmpty && one.isNullAt(2))
    val two = spark.range(1).select(
      PdfDialectExpr.pdfDialect(lit(null)), PdfTableGridExpr.pdfTableGrid(lit(null)),
      XlsxGrid.column(lit(null))).head()
    assert(two.getString(0) == "empty" && two.isNullAt(1) && two.isNullAt(2))
  }
}
