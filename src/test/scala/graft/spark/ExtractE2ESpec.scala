package graft.spark

import java.nio.file.Files
import graft.kernel._

/** The north-rule correctness gate: byte-identical extracted text per url —
  * the distributed job (local[4], salted repartition, whatever task order the
  * scheduler picks) must reproduce EXACTLY what the single-threaded kernel
  * produces on the driver for every document, plus exactly-once resumability
  * after a simulated partial failure. */
class ExtractE2ESpec extends SparkTestBase {

  private val N = 600

  /** Oracle: single-threaded kernel run — the same pure function, no Spark. */
  private lazy val oracle: Map[String, ExtractedDoc] =
    Corpus.rows(N).map(p => p.url -> Extractor.extract(p.url, p.html, p.text, p.lang)).toMap

  test("distributed extraction is byte-identical to the single-threaded oracle") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_e2e_spec").toString
    val pages = ExtractPipeline.pages(spark, N, numPartitions = 7).toDF()
    val metrics = ExtractJob.run(spark, pages, out, runId = "t1", nBuckets = 8)
    assert(metrics.docs == N)

    val docs = spark.read.parquet(s"$out/docs")
      .select("url", "extractedText", "route", "vendor", "failure", "nItems")
      .collect()
    assert(docs.length == N)
    var htmlN = 0; var pdfN = 0
    docs.foreach { r =>
      val url = r.getString(0)
      val o = oracle(url)
      assert(r.getString(1) == o.extractedText, s"extractedText mismatch for $url")
      assert(r.getString(2) == o.route, s"route mismatch for $url")
      assert(r.getString(3) == o.vendor, s"vendor mismatch for $url")
      assert(r.getString(4) == o.failure, s"failure mismatch for $url")
      assert(r.getInt(5) == o.nItems, s"nItems mismatch for $url")
      if (o.route == "html") htmlN += 1 else pdfN += 1
    }
    // the corpus must actually exercise both payload kinds
    assert(htmlN > 100 && pdfN > 100, s"degenerate corpus: html=$htmlN pdf=$pdfN")
  }

  test("cells, spans and quality survive the parquet round-trip") {
    import ExtractPipeline.docEnc
    val out = Files.createTempDirectory("graft_roundtrip_spec").toString
    ExtractJob.run(spark, ExtractPipeline.pages(spark, 60).toDF(), out, runId = "rt",
      nBuckets = 4)
    // the committed table read back through the case class's own encoder
    val docs = spark.read.parquet(s"$out/docs").drop("bucket").as[ExtractedDoc].collect()
    assert(docs.length == 60)
    docs.foreach { d =>
      val o = oracle.get(d.url)
      // oracle covers first N urls; all 60 are within N
      assert(o.isDefined && d == o.get, s"full ExtractedDoc mismatch for ${d.url}")
    }
  }

  test("resume after simulated partial failure: no duplicates, no losses") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_resume_spec").toString
    val pages = ExtractPipeline.pages(spark, 300, numPartitions = 5).toDF()

    // full run, then simulate a crash that lost buckets 2 and 5: remove their
    // data dirs and their lineage rows (as if they never committed)
    ExtractJob.run(spark, pages, out, runId = "r1", nBuckets = 8)
    val lineage1 = spark.read.parquet(s"$out/lineage").collect()
    assert(lineage1.length == 8)

    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$out/docs/bucket=2")).deleteRecursively()
    new Directory(new java.io.File(s"$out/docs/bucket=5")).deleteRecursively()
    val keptLineage = spark.read.parquet(s"$out/lineage")
      .filter(!$"bucket".isin(2L, 5L))
    val tmpLineage = s"$out/lineage_tmp"
    keptLineage.write.parquet(tmpLineage)
    new Directory(new java.io.File(s"$out/lineage")).deleteRecursively()
    new java.io.File(tmpLineage).renameTo(new java.io.File(s"$out/lineage"))

    // resume: must recompute exactly the two lost buckets
    val m2 = ExtractJob.run(spark, pages, out, runId = "r2", nBuckets = 8, resume = true)
    assert(m2.docs > 0 && m2.docs < 300, s"resume recomputed ${m2.docs} docs")

    val docs = spark.read.parquet(s"$out/docs").select("url").as[String].collect()
    assert(docs.length == 300, s"expected 300 docs after resume, got ${docs.length}")
    assert(docs.distinct.length == 300, "duplicate urls after resume")
    // and the recomputed docs are still byte-identical
    val d2 = spark.read.parquet(s"$out/docs")
      .filter($"bucket".isin(2L, 5L)).select("url", "extractedText").collect()
    d2.foreach { r => assert(r.getString(1) == oracle(r.getString(0)).extractedText) }
  }

  test("lineage equals the committed table; metrics equal the lineage") {
    import LineageChecks._
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft_lineage_spec").toString
    val m = ExtractJob.run(spark, pagesWithEdgeRows(spark, 300), out, runId = "edge",
      nBuckets = 8)
    val lineageDf = spark.read.parquet(s"$out/lineage")
    // the committed lineage table keeps its columns, order and types
    assert(lineageDf.schema.map(f => f.name -> f.dataType) == Seq(
      "runId" -> StringType, "bucket" -> IntegerType, "docs" -> LongType,
      "bytes" -> LongType, "failures" -> LongType, "emptyDocs" -> LongType,
      "status" -> StringType))
    assert(lineageDf.filter("status <> 'ok'").isEmpty)
    val lineage = lineageCounts(lineageDf, "edge")
    assert(lineage == tableCounts(spark.read.parquet(s"$out/docs")))
    assert(totals(m) == totals(lineage))
    assert(m.docs == 303 && m.failedDocs >= 1 && m.emptyDocs >= 1, m)
  }

  test("a bucket count below 1 is rejected before anything is written") {
    val out = Files.createTempDirectory("graft_nbuckets_spec").toString
    val pages = ExtractPipeline.pages(spark, 20).toDF()
    for (n <- Seq(0, -4)) {
      val e = intercept[IllegalArgumentException](
        ExtractJob.run(spark, pages, out, runId = s"b$n", nBuckets = n))
      assert(e.getMessage.contains(s"got $n"), e.getMessage)
    }
    assert(!Files.exists(java.nio.file.Paths.get(out, "docs")))
  }

  test("a fresh run and a resume run each add one lineage file") {
    import LineageChecks._
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_lineage_files_spec").toString
    val pages = pagesWithEdgeRows(spark, 300)
    val half = ExtractJob.withBucket(pages, 8).filter(col("bucket") < 4).drop("bucket")
    ExtractJob.run(spark, half, out, runId = "half", nBuckets = 8)
    val m = ExtractJob.run(spark, pages, out, runId = "rest", nBuckets = 8, resume = true)
    assert(m.docs > 0 && m.docs < 303, m)
    val parts = new java.io.File(s"$out/lineage").list()
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.length == 2, parts.mkString(", "))
    val lineageDf = spark.read.parquet(s"$out/lineage")
    val lineage = (lineageCounts(lineageDf, "half") ++ lineageCounts(lineageDf, "rest"))
      .sortBy(_.head.asInstanceOf[Long])
    assert(lineage == tableCounts(spark.read.parquet(s"$out/docs")))
  }

  test("a resume over a complete table commits nothing and leaves the docs untouched") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graft_noop_resume_spec")
    val pages = ExtractPipeline.pages(spark, 300, numPartitions = 5).toDF()
    ExtractJob.run(spark, pages, out.toString, runId = "full", nBuckets = 8)
    def parquetParts(table: String): Map[String, java.nio.file.attribute.FileTime] =
      Files.walk(out.resolve(table)).iterator.asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => out.relativize(p).toString -> Files.getLastModifiedTime(p)).toMap
    val docsBefore = parquetParts("docs")
    val lineageBefore = parquetParts("lineage")
    val docsDirBefore = Files.getLastModifiedTime(out.resolve("docs"))

    val m = ExtractJob.run(spark, pages, out.toString, runId = "again", nBuckets = 8,
      resume = true)
    assert(m.docs == 0, m)
    assert(parquetParts("lineage") == lineageBefore, "the resume added a lineage file")
    assert(parquetParts("docs") == docsBefore, "the resume rewrote docs part files")
    // no write job ran: its staging directory would have touched the table's
    assert(Files.getLastModifiedTime(out.resolve("docs")) == docsDirBefore)
  }

  test("a value of more than 128 compressor buffers survives the docs write byte for byte") {
    import spark.implicits._
    // ~1.2 MiB of incompressible-ish words in one paragraph: the docs write
    // compresses it through the engine's 8 KiB buffer in over 128 chunks
    val rnd = new scala.util.Random(7)
    val words = Iterator.continually(rnd.alphanumeric.take(3 + rnd.nextInt(9)).mkString)
    val paragraph = words.take(160000).mkString(" ")
    val giant = Corpus.PageRow("https://giant.example/p", new java.sql.Timestamp(Corpus.BaseEpochMs),
      s"<html><body><p>$paragraph</p></body></html>".getBytes("UTF-8"), "", "en")
    val rows = giant +: Corpus.rows(60).toVector
    val expected = rows.map(p => p.url -> Extractor.extract(p.url, p.html, p.text, p.lang)
      .extractedText).toMap
    assert(expected(giant.url).length > (1 << 20), "the giant's text is under 1 MiB")

    val out = Files.createTempDirectory("graft_giant_value_spec").toString
    ExtractJob.run(spark, rows.toDF(), out, runId = "g", nBuckets = 4)
    val docs = spark.read.parquet(s"$out/docs").select("url", "extractedText")
      .as[(String, String)].collect()
    assert(docs.length == rows.length)
    docs.foreach { case (url, text) => assert(text == expected(url), s"extractedText mismatch for $url") }
  }

  test("table writes leave Hadoop's default modes, a .crc per part file and the session conf") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.FileSystem
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = spark.sparkContext.hadoopConfiguration
    val fsKeys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val confBefore = fsKeys.map(conf.get)
    val cachedBefore = FileSystem.get(java.net.URI.create("file:///"), conf)
    val out = Files.createTempDirectory("graft_layout_spec")
    ExtractJob.run(spark, ExtractPipeline.pages(spark, 200, numPartitions = 4).toDF(),
      out.toString, runId = "m1", nBuckets = 8)

    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    for (table <- Seq("docs", "lineage")) {
      val paths = Files.walk(out.resolve(table)).iterator.asScala.toVector
      paths.foreach { p =>
        val mode = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
        val want = if (Files.isDirectory(p)) dirMode else fileMode
        assert(mode == want, f"$p has mode $mode%o, want $want%o")
      }
      val parts = paths.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }
      assert(parts.nonEmpty, s"no part files under $table")
      parts.foreach { p =>
        assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), s"$p has no .crc")
      }
    }
    // the writes' file system rode on their own options, not the session's
    assert(fsKeys.map(conf.get) == confBefore)
    assert(FileSystem.get(out.toUri, conf) eq cachedBefore)
    assert(!cachedBefore.isInstanceOf[NioLocalFileSystem])
  }

  test("extract_doc rejects wrong input types at analysis time") {
    import spark.implicits._
    // an int html column must fail in the analyzer (AnalysisException), not
    // as a per-row ClassCastException at runtime
    val bad = Seq(("u", 1, "t", "en")).toDF("url", "html", "text", "lang")
    bad.createOrReplaceTempView("bad_pages_spec")
    val e = intercept[Exception] {
      spark.sql("SELECT extract_doc(url, html, text, lang) FROM bad_pages_spec").collect()
    }
    assert(e.getMessage.contains("extract_doc argument 1 (html)"), e.getMessage)

    // a STRING html column is accepted (markup stored as text)
    val strHtml = Seq(("https://t/s", "<p>hi</p>", "", "en")).toDF("url", "html", "text", "lang")
    strHtml.createOrReplaceTempView("str_pages_spec")
    val rows = spark.sql(
      "SELECT extract_doc(url, html, text, lang).extractedText FROM str_pages_spec")
      .as[String].collect()
    assert(rows.sameElements(Array("hi")))

    // NULL literals pass analysis and eval (text/lang default to "")
    val viaNull = spark.sql(
      "SELECT extract_doc(url, html, NULL, NULL).extractedText FROM str_pages_spec")
      .as[String].collect()
    assert(viaNull.sameElements(Array("hi")))
  }

  test("extract_doc SQL expression agrees with the typed path") {
    import spark.implicits._
    val pages = ExtractPipeline.pages(spark, 40).toDF()
    pages.createOrReplaceTempView("pages_sql_spec")
    val viaSql = spark.sql(
      """SELECT url, extract_doc(url, html, text, lang).extractedText AS t
        |FROM pages_sql_spec""".stripMargin)
      .as[(String, String)].collect().toMap
    viaSql.foreach { case (url, t) => assert(t == oracle(url).extractedText, url) }
    assert(viaSql.size == 40)
  }

  test("extract_pages and sim_ratio are SQL-callable via GraftExtensions") {
    import spark.implicits._
    val pages = ExtractPipeline.pages(spark, 40).toDF()
    pages.createOrReplaceTempView("pages_ext_spec")
    // extract_pages: page 1's text equals the whole-document extraction for
    // every non-failed doc (the same invariant the kernel spec pins)
    val firstPages = spark.sql(
      """SELECT url, pg.text AS t FROM pages_ext_spec
        |LATERAL VIEW explode(extract_pages(url, html, text, lang)) AS pg
        |WHERE pg.page = 1""".stripMargin)
      .as[(String, String)].collect().toMap
    assert(firstPages.nonEmpty)
    firstPages.foreach { case (url, t) => assert(t == oracle(url).extractedText, url) }
    // sim_ratio: difflib-pinned value usable straight from SQL
    val r = spark.sql("SELECT sim_ratio('newark', 'newrak')").head().getDouble(0)
    assert(math.abs(r - 0.8333333333333334) < 1e-12, r.toString)
  }

  test("extract_doc with a password try-list opens real-password documents") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val msg = "Dock 7 manifest: 1482 units cleared for Tuesday"
    val pdf = PdfLite.writeDoc(
      Seq(PdfLite.PageSpec(1700, 1200, Seq(PdfLite.Run(100, 100, 12, msg)))),
      aes = true, userPw = "s3cret")
    // pre-extracted text >100 chars routes the doc native (detectRoute)
    val df = Seq(("pdf://locked", pdf, (msg + " ") * 3, "en"))
      .toDF("url", "html", "text", "lang")
    def run(pws: Seq[String]): (String, String) = {
      val d = df.select(graft.functions.ExtractDocExpr.extractDoc(
        col("url"), col("html"), col("text"), col("lang"),
        Vendor.builtinTemplates, pws).as("doc"))
        .select("doc.extractedText", "doc.route").head()
      (d.getString(0), d.getString(1))
    }
    assert(!run(Nil)._1.contains("manifest"), "opened without a password")
    val (txt, route) = run(Seq("wrong", "s3cret"))
    assert(route == "native" && txt.contains("Dock 7 manifest"), s"$route/$txt")
  }
}
