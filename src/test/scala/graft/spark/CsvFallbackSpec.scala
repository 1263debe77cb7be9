package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
import graft.kernel.{Csv, Extractor, Corpus, Vendor}

/** S10 end-to-end: the CSV fallback sink under the real [[ExtractJob]].
  * A primary whose commit throws must degrade to a readable CSV table with
  * identical lineage/metrics — the reference's "Excel save failed, saved as
  * CSV" semantic (`table_slicer.py:155-162`) at table granularity — and the
  * `grid_csv` artifact must be byte-identical to the kernel's pandas-parity
  * renderer. Also pins the builtin-expression twin [[graft.functions.CsvGrid]]
  * to the kernel renderer over the pandas golden battery. */
class CsvFallbackSpec extends SparkTestBase {

  private val NDocs = 300L
  private val NBuckets = 8

  /** Parquet primary whose data commit runs `write` over its real writer;
    * lineage bookkeeping stays healthy, as in the reference fallback. */
  private final class ScriptedPrimary(dir: String)(write: (TableIO, DataFrame) => Unit)
      extends TableIO {
    private val inner = new ParquetTableIO(dir)
    override def writeDocs(docs: DataFrame): Unit = write(inner, docs)
    override def appendLineage(l: DataFrame): Unit = inner.appendLineage(l)
    override def readDocs(s: org.apache.spark.sql.SparkSession): DataFrame = inner.readDocs(s)
    override def lineageExists(s: org.apache.spark.sql.SparkSession): Boolean = inner.lineageExists(s)
    override def readLineage(s: org.apache.spark.sql.SparkSession): DataFrame = inner.readLineage(s)
  }

  /** Primary whose data commit always fails (the "Excel writer" role). */
  private def failingPrimary(dir: String): TableIO = new ScriptedPrimary(dir)((_, _) =>
    throw new RuntimeException("synthetic sink failure (S10 drill)"))

  private def tmp(): String = Files.createTempDirectory("graft_csvfb").toString

  /** The docs shape ExtractJob writes (extract_doc + bucket), for driving a
    * sink's writeDocs directly. */
  private def extractedDocs(n: Long, nBuckets: Int): DataFrame =
    ExtractJob.withBucket(ExtractPipeline.pages(spark, n).toDF(), nBuckets)
      .select(graft.functions.ExtractDocExpr
        .extractDoc(col("url"), col("html"), col("text"), col("lang")).as("doc"),
        col("bucket"))
      .select(col("doc.*"), col("bucket"))

  test("primary failure degrades to CSV; metrics equal the healthy run") {
    val cleanDir = tmp(); val fbDir = tmp()
    val pages = ExtractPipeline.pages(spark, NDocs).toDF()

    val healthy = ExtractJob.run(spark, pages, new ParquetTableIO(s"$cleanDir/t"),
      "clean", NBuckets, 8, resume = false, Vendor.builtinTemplates)

    val io = new CsvFallbackTableIO(
      failingPrimary(s"$fbDir/t"), s"$fbDir/csv")
    val degraded = ExtractJob.run(spark, pages, io, "fb", NBuckets, 8,
      resume = false, Vendor.builtinTemplates)

    assert(degraded.docs == healthy.docs && degraded.docs == NDocs)
    assert(degraded.bytes == healthy.bytes)
    assert(degraded.failedDocs == healthy.failedDocs)
    assert(new java.io.File(s"$fbDir/csv/_GRAFT_CSV_COMMIT").exists(), "csv commit marker")
    assert(!new java.io.File(s"$fbDir/t/docs").exists(), "no partial primary table")

    // the degraded table is readable and complete
    val back = io.readDocs(spark)
    assert(back.count() == NDocs)
    assert(back.select(countDistinct(col("bucket"))).head().getLong(0) == NBuckets)
  }

  /** A fresh run over the edge-row corpus: its metrics and lineage counts. */
  private def runEdge(io: TableIO, runId: String): (ExtractJob.Metrics, Seq[Seq[Any]]) = {
    val m = ExtractJob.run(spark, LineageChecks.pagesWithEdgeRows(spark, NDocs), io, runId,
      NBuckets, 8, resume = false, Vendor.builtinTemplates)
    (m, LineageChecks.lineageCounts(io.readLineage(spark), runId))
  }

  private lazy val healthyEdgeRun = runEdge(new ParquetTableIO(s"${tmp()}/t"), "clean")

  /** The degraded run counted every doc once: same metrics and lineage as the
    * healthy run, and the fallback did fire. */
  private def assertNoDoubleCount(dir: String, io: TableIO, runId: String): Unit = {
    val (hm, hl) = healthyEdgeRun
    val (m, l) = runEdge(io, runId)
    assert(new java.io.File(s"$dir/csv/_GRAFT_CSV_COMMIT").exists(), "fallback did not fire")
    assert(LineageChecks.totals(m) == LineageChecks.totals(hm))
    assert(m.docs == NDocs + 3)
    assert(l == hl)
  }

  test("primary that fails after its Spark write completes: no double count") {
    // an Iceberg commit conflict fails only after the write job has run
    val dir = tmp()
    val late = new ScriptedPrimary(s"$dir/t")((primary, docs) => {
      primary.writeDocs(docs)
      throw new RuntimeException("synthetic commit conflict after the write job")
    })
    assertNoDoubleCount(dir, new CsvFallbackTableIO(late, s"$dir/csv"), "late")
  }

  test("primary that fails inside one task partway through: no double count") {
    val dir = tmp()
    val victim = Corpus.page(NDocs - 1).url
    val boom = udf((u: String) =>
      if (u == victim) throw new RuntimeException("synthetic task failure") else u)
    val midTask = new ScriptedPrimary(s"$dir/t")((primary, docs) =>
      primary.writeDocs(docs.withColumn("url", boom(col("url")))))
    val io = new CsvFallbackTableIO(midTask, s"$dir/csv")
    assertNoDoubleCount(dir, io, "mid")
    // the aborted write left an empty primary directory: nothing committed
    // there, so reads serve the CSV side alone
    assert(new java.io.File(s"$dir/t/docs").list().isEmpty)
    assert(io.readDocs(spark).count() == NDocs + 3)
  }

  test("grid_csv read back from the CSV table matches the kernel renderer") {
    val fbDir = tmp()
    val pages = ExtractPipeline.pages(spark, NDocs).toDF()
    val io = new CsvFallbackTableIO(failingPrimary(s"$fbDir/t"), s"$fbDir/csv")
    ExtractJob.run(spark, pages, io, "fb", NBuckets, 8,
      resume = false, Vendor.builtinTemplates)

    val got = io.readDocs(spark).select("url", "grid_csv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == NDocs)
    var nonEmpty = 0
    (0L until NDocs).foreach { i =>
      val p = Corpus.page(i)
      val d = Extractor.extract(p.url, p.html, p.text, p.lang)
      val want = Csv.render(d.cells)
      assert(got(p.url) == want, s"idx $i url ${p.url}")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 50, s"battery too trivial: only $nonEmpty non-empty grids")
  }

  test("resume across backends: reads union primary-committed and CSV-committed buckets") {
    val dir = tmp()
    val inner = new ParquetTableIO(s"$dir/t")
    var failNow = false
    val toggling = new ScriptedPrimary(s"$dir/t")((primary, docs) =>
      if (failNow) throw new RuntimeException("synthetic failure after resume")
      else primary.writeDocs(docs))
    val io = new CsvFallbackTableIO(toggling, s"$dir/csv")
    // the unit under test is the TableIO read path when different RUNS of a
    // job committed to different backends — drive writeDocs directly with
    // the same docs shape ExtractJob produces (extract_doc + bucket)
    val docs = extractedDocs(NDocs, NBuckets)
    // run 1: healthy primary commits the even buckets, then "crashes"
    io.writeDocs(docs.filter(col("bucket") % 2 === 0))
    val primaryCount = inner.readDocs(spark).count()
    assert(primaryCount > 0)
    // run 2: the odd buckets arrive, but the primary now fails → CSV
    failNow = true
    io.writeDocs(docs.filter(col("bucket") % 2 === 1))
    // reads must serve BOTH halves — nothing committed may vanish
    val back = io.readDocs(spark)
    assert(back.count() == NDocs,
      s"union read lost rows: ${back.count()} != $NDocs (primary had $primaryCount)")
    assert(back.select("url").distinct().count() == NDocs)
    // the primary-side rows surface the same degraded flat shape, and their
    // grid_csv equals the kernel render
    val gotCsv = back.select("url", "grid_csv").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    (0L until NDocs).foreach { i =>
      val p = Corpus.page(i)
      val d = Extractor.extract(p.url, p.html, p.text, p.lang)
      assert(gotCsv(p.url) == Csv.render(d.cells), s"idx $i")
    }
  }

  test("unreadable primary buckets fail the read instead of vanishing from it") {
    val dir = tmp()
    var failNow = false
    val toggling = new ScriptedPrimary(s"$dir/t")((primary, docs) =>
      if (failNow) throw new RuntimeException("synthetic failure after resume")
      else primary.writeDocs(docs))
    val io = new CsvFallbackTableIO(toggling, s"$dir/csv")
    val docs = extractedDocs(40L, 16)
    io.writeDocs(docs)
    failNow = true
    io.writeDocs(docs.filter(col("bucket") === docs.select("bucket").head().getLong(0)))
    assert(io.readDocs(spark).count() > 2L)
    // every committed primary part file becomes unreadable (its checksum
    // sidecar goes with it, so the read meets the bytes themselves)
    val parts = Files.walk(java.nio.file.Paths.get(s"$dir/t/docs")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector
    assert(parts.nonEmpty)
    parts.foreach { f =>
      Files.write(f, "garbage".getBytes("UTF-8"))
      Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    }
    intercept[Exception](io.readDocs(spark).collect())
  }

  test("healthy primary: no CSV table is written, reads serve the primary") {
    val dir = tmp()
    val pages = ExtractPipeline.pages(spark, 50L).toDF()
    val io = new CsvFallbackTableIO(new ParquetTableIO(s"$dir/t"), s"$dir/csv")
    val m = ExtractJob.run(spark, pages, io, "ok", 4, 4,
      resume = false, Vendor.builtinTemplates)
    assert(m.docs == 50L)
    assert(!new java.io.File(s"$dir/csv").exists(), "csv fallback must not fire")
    assert(io.readDocs(spark).count() == 50L)
  }

  test("CsvGrid.column equals Csv.render on the pandas golden battery") {
    import spark.implicits._
    val mapper = new ObjectMapper()
    val in = getClass.getResourceAsStream("/golden_kernel.json")
    require(in != null)
    val root = try mapper.readTree(in) finally in.close()
    // the column twin contracts rectangular grids (slicer G8 padding)
    val grids = root.get("csv_cases").elements().asScala
      .map(c => c.get("grid").elements().asScala
        .map(_.elements().asScala.map(_.asText()).toVector).toVector)
      .filter(g => g.map(_.length).distinct.size <= 1)
      .toVector
    assert(grids.size > 55, s"rectangular battery too small: ${grids.size}")
    val df = grids.zipWithIndex.map { case (g, i) => (i, g) }.toDF("i", "cells")
    val got = df.select(col("i"), graft.functions.CsvGrid.column(col("cells")).as("csv"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    grids.zipWithIndex.foreach { case (g, i) =>
      assert(got(i) == Csv.render(g), s"grid $i: $g")
    }
  }
}
