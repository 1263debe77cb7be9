package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.kernel.{Vendor, Xlsx}

/** S9 pairing gate: the artifact sink emits one XLSX workbook per document
  * (xlsx-primary), degrading to CSV exactly when Excel's sheet limits make
  * the real `to_excel` throw (`table_slicer.py:149-162`) — and the workbook
  * bytes are the KERNEL writer's, byte-identical, read back through the
  * kernel reader. */
class XlsxArtifactSpec extends SparkTestBase {

  private val NDocs = 40L
  private val NBuckets = 4

  test("artifact table: one xlsx per document, bytes = kernel writer, cells round-trip") {
    val dir = Files.createTempDirectory("graft_xlsx_art").toString
    val pages = ExtractPipeline.pages(spark, NDocs).toDF()
    val io = new XlsxArtifactTableIO(new ParquetTableIO(s"$dir/t"), s"$dir/a")
    ExtractJob.run(spark, pages, io, "xa", NBuckets, 8,
      resume = false, Vendor.builtinTemplates)

    val arts: Map[String, (String, Array[Byte])] = io.readArtifacts(spark)
      .select("url", "format", "artifact").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getAs[Array[Byte]](2))))
      .toMap
    assert(arts.size == NDocs)
    assert(arts.values.forall(_._1 == "xlsx"),
      "every grid fits Excel limits → xlsx primary everywhere")

    val docs = io.readDocs(spark).select("url", "cells").collect()
    assert(docs.length == NDocs)
    for (row <- docs) {
      val url = row.getString(0)
      val cells = row.getSeq[scala.collection.Seq[String]](1)
        .map(_.toVector).toVector
      val (_, bytes) = arts(url)
      // byte-identity with the kernel writer (determinism across the
      // expression path and the kernel path)
      assert(java.util.Arrays.equals(bytes, Xlsx.write(cells)), url)
      // and the cells read back
      val width = if (cells.isEmpty) 0 else cells.map(_.length).max
      assert(Xlsx.readCells(bytes, padCols = width) == cells, url)
    }
  }

  test("the artifact write reads the docs the table write computed: one kernel run per doc") {
    import spark.implicits._
    val calls = spark.sparkContext.longAccumulator("kernel_payloads")
    val counted = udf { (b: Array[Byte]) => calls.add(1); b }
    val docs = ExtractJob.withBucket(ExtractPipeline.pages(spark, NDocs).toDF(), NBuckets)
      .select(graft.functions.ExtractDocExpr
        .extractDoc($"url", counted($"html"), $"text", $"lang").as("doc"), $"bucket")
      .select($"doc.*", $"bucket")
    val dir = Files.createTempDirectory("graft_xlsx_once").toString
    val io = new XlsxArtifactTableIO(new ParquetTableIO(s"$dir/t"), s"$dir/a")
    io.writeDocs(docs)
    assert(io.readDocs(spark).count() == NDocs && io.readArtifacts(spark).count() == NDocs)
    assert(calls.sum == NDocs, s"the kernel ran ${calls.sum} times for $NDocs docs")
  }

  test("lineage equals the committed table through the artifact sink") {
    import LineageChecks._
    val dir = Files.createTempDirectory("graft_xlsx_lineage").toString
    val io = new XlsxArtifactTableIO(new ParquetTableIO(s"$dir/t"), s"$dir/a")
    val m = ExtractJob.run(spark, pagesWithEdgeRows(spark, 120), io, "xl", NBuckets, 8,
      resume = false, Vendor.builtinTemplates)
    val lineage = lineageCounts(io.readLineage(spark), "xl")
    assert(lineage == tableCounts(io.readDocs(spark)))
    assert(totals(m) == totals(lineage))
    assert(m.docs == 123 && io.readArtifacts(spark).count() == 123, m)
  }

  test("a grid past Excel's limits degrades that document (and only it) to csv") {
    import spark.implicits._
    val wide = Vector.fill(2)(Vector.fill(Xlsx.MaxCols + 1)("x"))
    val ok = Vector(Vector("a", "b"))
    val df = Seq(("u1", wide, 0L), ("u2", ok, 0L))
      .toDF("url", "cells", "bucket")
      .withColumn("vendor", lit("v"))
    val dir = Files.createTempDirectory("graft_xlsx_lim").toString
    val io = new XlsxArtifactTableIO(new ParquetTableIO(s"$dir/t"), s"$dir/a")
    // drive just the artifact projection (writeDocs' primary write needs the
    // full doc schema; the pairing under test is the artifact branch)
    df.select(col("url"), col("vendor"), col("bucket"),
        graft.functions.XlsxGrid.column(col("cells")).as("xlsx"),
        graft.functions.CsvGrid.column(col("cells")).as("csv"))
      .select(col("url"),
        when(col("xlsx").isNotNull, lit("xlsx")).otherwise(lit("csv")).as("format"),
        coalesce(col("xlsx"), encode(col("csv"), "UTF-8")).as("artifact"))
      .createOrReplaceTempView("arts")
    val got = spark.table("arts").select("url", "format").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("u1") == "csv" && got("u2") == "xlsx")
    val csvBytes = spark.table("arts").filter(col("url") === "u1")
      .select("artifact").head().getAs[Array[Byte]](0)
    assert(new String(csvBytes, "UTF-8") == graft.kernel.Csv.render(wide))
  }
}
