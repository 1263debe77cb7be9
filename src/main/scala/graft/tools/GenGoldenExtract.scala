package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SaveMode
import graft.kernel.{Corpus, Csv, Extractor, Multimodal, PdfLite}
import graft.spark.Engine

/** Regenerates the committed golden-extraction parquets under `data/` that
  * back the DuckDB oracles of the extraction-family catalog queries
  * (q25/q26/q27/q29/q38/q47/q48/q49/q50), plus `golden_items`, which pins
  * both PDF content interpreters item by item. The goldens are the single-threaded kernel's output
  * over the deterministic corpus — the same oracle definition as the
  * byte-identity gate — materialized so an independent engine (DuckDB) can
  * verify the distributed results by hash.
  *
  * Run after ANY kernel-semantics change:
  *   sbt -batch "runMain graft.tools.GenGoldenExtract"
  * (GoldenExtractSpec fails loudly when the committed files drift from the
  * live kernel.)
  *
  * Sized for the largest driver scale: idx < 20000 covers 4×nDocs pages up to
  * sf0.1 (5000 documents).
  */
object GenGoldenExtract {

  def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** The `golden_items` rows of corpus page `i`: none for a non-PDF payload,
    * else one per content interpreter (`parse`, `native`) with the raw
    * [[PdfLite.Parsed]] shape and an md5 over every `TextItem` field in order. */
  def itemRows(i: Long): Seq[(Long, String, String, Int, String, Int, Int, Boolean, Int)] = {
    val p = Corpus.page(i)
    if (!PdfLite.isPdf(p.html)) Nil
    else Seq("parse" -> PdfLite.parse(p.html), "native" -> PdfLite.parseNative(p.html)).map {
      case (route, r) =>
        (i, p.url, route, r.items.length, md5hex(r.items.mkString("\n")),
          r.pageW, r.pageH, r.hasImage, r.nPages)
    }
  }

  val ItemColumns: Seq[String] = Seq("idx", "url", "route", "n_items", "items_md5",
    "page_w", "page_h", "has_image", "n_pages")

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000L
    val outDir = if (args.length > 1) args(1) else "data"
    Files.createDirectories(Paths.get(outDir))

    val spark = Engine.session(Some("local[*]"))
    import spark.implicits._

    def commitSingleFile(dfWriter: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_golden").toString
      dfWriter.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$tmp/$name")
      val part = new java.io.File(s"$tmp/$name").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      Files.copy(part.toPath, Paths.get(s"$outDir/$name"),
        StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      println(s"[golden] $outDir/$name (${Files.size(Paths.get(s"$outDir/$name"))} bytes)")
    }

    val docs = spark.range(0, n, 1, 16).map { i =>
      val p = Corpus.page(i)
      val d = Extractor.extract(p.url, p.html, p.text, p.lang)
      val csv = Csv.render(d.cells)
      val red = graft.kernel.Redact(d.extractedText)
      (i, d.url, d.route, d.vendor, d.failure, d.nItems, d.nPages,
        d.extractedText.length, md5hex(d.extractedText), d.quality.overallScore,
        md5hex(csv), csv.length,
        red.nPrice, red.nDate, red.nAcct, md5hex(red.text))
    }.toDF("idx", "url", "route", "vendor", "failure", "n_items", "n_pages",
      "n_chars", "text_md5", "quality_score", "csv_md5", "csv_len",
      "n_red_price", "n_red_date", "n_red_acct", "redacted_md5")
    commitSingleFile(docs.orderBy("idx"), "golden_docs.parquet")

    val pages = spark.range(0, n, 1, 16).flatMap { i =>
      val p = Corpus.page(i)
      Extractor.extractPages(p.url, p.html, p.text, p.lang)
        .map(pe => (i, p.url, pe.page, pe.nItems, pe.text.length, md5hex(pe.text)))
    }.toDF("idx", "url", "page", "n_items", "n_chars", "text_md5")
    commitSingleFile(pages.orderBy("idx", "page"), "golden_pages.parquet")

    val dialects = spark.range(0, n, 1, 16).map { i =>
      val p = Corpus.page(i)
      (i, p.url, graft.kernel.PdfLite.dialect(p.html))
    }.toDF("idx", "url", "dialect")
    commitSingleFile(dialects.orderBy("idx"), "golden_dialects.parquet")

    val links = spark.range(0, n, 1, 16).flatMap { i =>
      val p = Corpus.page(i)
      graft.kernel.PdfLite.links(p.html).zipWithIndex
        .map { case (l, k) => (i, p.url, k, l) }
    }.toDF("idx", "url", "k", "link")
    commitSingleFile(links.orderBy("idx", "k"), "golden_links.parquet")

    val meta = spark.range(0, n, 1, 16).flatMap { i =>
      val p = Corpus.page(i)
      graft.kernel.PdfLite.docInfo(p.html)
        .map(di => (i, p.url, di.title, di.author, di.producer, di.created))
    }.toDF("idx", "url", "title", "author", "producer", "created")
    commitSingleFile(meta.orderBy("idx"), "golden_meta.parquet")

    val media = spark.range(0, n, 1, 16).map { i =>
      val m = Multimodal.decode(i, Multimodal.blob(i))
      (i, m.format, m.channels, m.nBytes, m.width, m.height, m.failure)
    }.toDF("idx", "format", "channels", "n_bytes", "width", "height", "failure")
    commitSingleFile(media.orderBy("idx"), "golden_media.parquet")

    val items = spark.range(0, n, 1, 16).flatMap(i => itemRows(i)).toDF(ItemColumns: _*)
    commitSingleFile(items.orderBy("idx", "route"), "golden_items.parquet")

    spark.stop()
  }
}
