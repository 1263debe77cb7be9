package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{Extractor, PdfLite}
import graft.spark.{ExtractJob, ExtractPipeline}
import graft.tools.GenGoldenExtract.md5hex

/** One benchmark input: the first `streamDocs` rows of the seeded corpus
  * stream `Corpus.page(i, seed)`, filtered to the kinds it keeps. */
final case class Workload(name: String, streamDocs: Int, keepPdf: Boolean,
                          keepHtml: Boolean, resume: Boolean)

object Workload {
  // Sizes keep one run under a minute on a 4-core machine, set-up included:
  // a pass over a few thousand documents takes 2 to 3 seconds at local[4].
  val all: Seq[Workload] = Seq(
    Workload("crawl_mix", 6000, keepPdf = true, keepHtml = true, resume = false),
    Workload("pdf_only", 7500, keepPdf = true, keepHtml = false, resume = false),
    Workload("html_only", 7500, keepPdf = false, keepHtml = true, resume = false),
    Workload("crawl_resume", 6000, keepPdf = true, keepHtml = true, resume = true))

  /** Output buckets of the job (ExtractJob's default); `crawl_resume` commits
    * the lower half of them during set-up. */
  val Buckets = 64

  /** The committed oracle covers seed 42 below this stream index. */
  val GoldenSeed = 42L
  val GoldenRows = 20000L

  /** The workload's rows, generated from the seed and filtered to the kinds
    * it keeps; cached, since they are written out and also extracted for the
    * reference. */
  def rows(spark: SparkSession, w: Workload, seed: Long): DataFrame = {
    val isPdf = udf((b: Array[Byte]) => PdfLite.isPdf(b))
    val all = ExtractPipeline.pages(spark, w.streamDocs.toLong, seed, numPartitions = 16).toDF()
    val kept =
      if (w.keepPdf && w.keepHtml) all
      else if (w.keepPdf) all.filter(isPdf(col("html")))
      else all.filter(!isPdf(col("html")))
    kept.cache()
  }

  /** The stream index a corpus url ends in. */
  val streamIndex: Column = substring_index(col("url"), "-", -1).cast("long")

  /** `crawl_resume`'s starting state: the rows of the lower half of the output
    * buckets committed by a first run of the job. */
  def precommit(spark: SparkSession, input: DataFrame, outDir: String): Unit = {
    val half = ExtractJob.withBucket(input, Buckets)
      .filter(col("bucket") < Buckets / 2).drop("bucket")
    ExtractJob.run(spark, half, outDir, runId = "precommit", nBuckets = Buckets)
  }
}

/** What a committed row must read: `route`, `vendor`, `failure` and the MD5
  * of the extracted text. */
final case class Expected(route: String, vendor: String, failure: String, textMd5: String)

/** The reference output and the census of one workload input, computed by a
  * plain single-threaded `Extractor.extract` call per row (run inside Spark
  * tasks, one row at a time, with no job, shuffle or row encoder around it). */
final class Reference(val byUrl: Map[String, Expected], val composition: Seq[(String, Any)]) {
  /** The reference of the rows below stream index `n`. */
  def below(n: Long): Reference =
    new Reference(byUrl.filter { case (u, _) => Reference.streamIndex(u) < n }, Nil)
}

object Reference {
  def build(input: DataFrame, seed: Long, goldenPath: String): Reference = {
    val spark = input.sparkSession
    import spark.implicits._
    val rows = input
      .select("url", "html", "text", "lang").as[(String, Array[Byte], String, String)]
      .mapPartitions(_.map { case (url, html, text, lang) =>
        val d = Extractor.extract(url, html, text, lang)
        val enc = PdfLite.isPdf(html) && PdfLite.dialect(html).contains("enc:")
        (url, d.route, d.vendor, d.failure, md5hex(d.extractedText), d.nItems, d.nPages,
          html.length.toLong, enc)
      }).collect()

    val live = rows.map(r => r._1 -> Expected(r._2, r._3, r._4, r._5)).toMap
    // below the golden bound of seed 42 the committed oracle decides, so a
    // change of kernel semantics shows even though both sides would agree
    val golden: Map[String, Expected] =
      if (seed != Workload.GoldenSeed) Map.empty
      else spark.read.parquet(goldenPath)
        .filter(col("idx") < Workload.GoldenRows)
        .select("url", "route", "vendor", "failure", "text_md5")
        .as[(String, String, String, String, String)].collect()
        .map(g => g._1 -> Expected(g._2, g._3, g._4, g._5)).toMap
    val expected = live.map { case (u, e) => u -> golden.getOrElse(u, e) }

    val routes = rows.groupMapReduce(_._2)(_ => 1)(_ + _)
    val composition = Seq(
      "seed" -> seed,
      "rows" -> rows.length,
      "input_mb" -> BigDecimal(rows.map(_._8).sum / 1e6).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble,
      "route_html" -> routes.getOrElse("html", 0),
      "route_native" -> routes.getOrElse("native", 0),
      "route_scanned" -> routes.getOrElse("scanned", 0),
      "giants" -> rows.count(r => streamIndex(r._1) % 1000 == 999),
      "encrypted" -> rows.count(_._9),
      "multi_page" -> rows.count(_._7 > 1),
      "golden_rows" -> expected.keys.count(golden.contains),
      "doc_failure_rate" -> rows.count(_._4.nonEmpty).toDouble / rows.length,
      "empty_doc_rate" -> rows.count(r => r._4.isEmpty && r._6 == 0).toDouble / rows.length)
    new Reference(expected, composition)
  }

  /** Corpus urls end in the zero-padded stream index. */
  def streamIndex(url: String): Long = url.substring(url.lastIndexOf('-') + 1).toLong
}

/** The outcome of checking one committed output against the reference. */
final case class Check(inputRows: Int, committed: Int, matched: Int, mismatched: Int,
                       lostOrDup: Int, failures: Int, empties: Int) {
  def ok: Boolean = mismatched == 0 && lostOrDup == 0 && matched == inputRows
  def textMatchRate: Double = matched.toDouble / inputRows
}

object Check {
  /** Checks every row committed under `docsDir` against `ref`. The rows are
    * read straight from the parquet files, with no Spark job. */
  def apply(docsDir: java.nio.file.Path, ref: Reference): Check = {
    val out = committed(docsDir)
    val counts = out.groupMapReduce(_._1)(_ => 1)(_ + _)
    val lost = ref.byUrl.keys.count(u => !counts.contains(u))
    val dup = counts.valuesIterator.count(_ > 1)
    val extra = counts.keys.count(u => !ref.byUrl.contains(u))
    val matched = out.count(r =>
      counts(r._1) == 1 && ref.byUrl.get(r._1).contains(Expected(r._2, r._3, r._4, r._5)))
    Check(ref.byUrl.size, out.length, matched, out.length - matched, lost + dup + extra,
      out.count(_._4.nonEmpty), out.count(r => r._4.isEmpty && r._6 == 0))
  }

  private val Columns = Seq("url", "route", "vendor", "failure", "extractedText", "nItems")

  /** (url, route, vendor, failure, MD5 of the text, nItems) of every row. */
  def committed(docsDir: java.nio.file.Path): Vector[(String, String, String, String, String, Int)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.MessageType

    val files = java.nio.file.Files.walk(docsDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map(f => new HPath(f.toUri)).toVector
    if (files.isEmpty) return Vector.empty
    // every file of the table has the same schema: project it once
    val conf = new Configuration()
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(files.head, conf))
    val schema = try footer.getFooter.getFileMetaData.getSchema finally footer.close()
    conf.set("parquet.read.schema", new MessageType(schema.getName,
      schema.getFields.asScala.filter(t => Columns.contains(t.getName)).asJava).toString)
    files.flatMap { path =>
      val reader = ParquetReader.builder(new GroupReadSupport(), path).withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g: Group =>
        (g.getString("url", 0), g.getString("route", 0), g.getString("vendor", 0),
          g.getString("failure", 0), md5hex(g.getString("extractedText", 0)),
          g.getInteger("nItems", 0))
      }.toVector
      finally reader.close()
    }
  }
}
