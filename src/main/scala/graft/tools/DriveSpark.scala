package graft.tools

import org.apache.spark.sql.functions.col
import graft.spark.{BucketRollup, Engine, ExtractJob, ExtractPipeline}

/** Spark e2e smoke: corpus → ExtractJob → resume probe → sample output.
  * `sbt "runMain graft.tools.DriveSpark [nDocs]"`. Exits 1 unless the resume
  * recomputes nothing, the lineage totals the input, and every lineage row
  * equals the committed docs table's per-bucket rollup. */
object DriveSpark {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000L
    val out = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    val spark = Engine.session(Some("local[8]"))
    import spark.implicits._

    val pages = ExtractPipeline.pages(spark, n).toDF()
    val m = ExtractJob.run(spark, pages, out, runId = "r1", nBuckets = 16)
    println(s"RUN1 docs=${m.docs} ok=${m.okDocs} failed=${m.failedDocs} empty=${m.emptyDocs} " +
      f"wall=${m.wallSec}%.1fs docs/s=${m.docsPerSec}%.0f MB/s=${m.mbPerSec}%.1f")

    val docs = spark.read.parquet(s"$out/docs")
    docs.groupBy("route").count().orderBy("route").show()
    docs.groupBy("vendor").count().orderBy("vendor").show()
    println("sample extractedText (pdf):")
    println(docs.filter($"route" =!= "html").select("extractedText")
      .head().getString(0).take(300))

    // resume probe: everything committed → 0 new docs processed
    val m2 = ExtractJob.run(spark, pages, out, runId = "r2", nBuckets = 16, resume = true)
    println(s"RESUME docs=${m2.docs} (expect 0)")

    val lineage = spark.read.parquet(s"$out/lineage")
    println(s"lineage rows=${lineage.count()} distinct buckets=" +
      lineage.select("bucket").distinct().count())
    val totalDocs = lineage.groupBy().sum("docs").head().getLong(0)
    println(s"lineage total docs=$totalDocs input=$n urlsDistinct=" +
      docs.select("url").distinct().count())
    // every lineage row must say what a second pass over the table says
    val counts = Seq("bucket", "docs", "bytes", "failures", "emptyDocs")
    val fromLineage = lineage.withColumn("bucket", $"bucket".cast("long"))
      .select(counts.map(col): _*).collect().map(_.toSeq).toSet
    val fromTable = BucketRollup.ofTable(docs).collect().map(_.toSeq).toSet
    val drift = (fromLineage diff fromTable) ++ (fromTable diff fromLineage)
    println(s"lineage vs table rollup: ${fromTable.size} buckets, ${drift.size} differing rows")

    // SQL expression surface
    pages.limit(5).createOrReplaceTempView("pages_v")
    spark.sql(
      """SELECT url, extract_doc(url, html, text, lang).route AS route,
        |       length(extract_doc(url, html, text, lang).extractedText) AS len
        |FROM pages_v""".stripMargin).show(false)
    spark.stop()

    val failed = Seq(
      "RESUME docs is not 0" -> (m2.docs != 0),
      s"lineage total $totalDocs != input $n" -> (totalDocs != n),
      s"lineage differs from the table rollup: ${drift.mkString(", ")}" -> drift.nonEmpty)
      .collect { case (msg, true) => msg }
    failed.foreach(msg => System.err.println(s"CHECK FAILED: $msg"))
    if (failed.nonEmpty) sys.exit(1)
    println("CHECKS OK")
  }
}
