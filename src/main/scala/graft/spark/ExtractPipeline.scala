package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import graft.kernel._

/** Spark-facing extraction pipeline: the deterministic corpus and two ways to
  * run the pure kernel over it. [[extractDf]] goes through the Catalyst
  * expression [[graft.functions.ExtractDocExpr]], as the production job
  * ([[ExtractJob]]) does; [[extract]] is the typed `Dataset[ExtractedDoc]`
  * path for code that needs the case-class objects. Both carry the template
  * registry in the closure or expression itself: registries are KBs.
  */
object ExtractPipeline {

  implicit val pageRowEnc: Encoder[Corpus.PageRow] = Encoders.product[Corpus.PageRow]
  implicit val docEnc: Encoder[ExtractedDoc] = Encoders.product[ExtractedDoc]

  /** Distributed deterministic corpus: pure function of (seed, index), so the
    * same table materializes identically under any partitioning — generation
    * is embarrassingly parallel with zero shuffle. */
  def pages(spark: SparkSession, n: Long, seed: Long = 42L,
            numPartitions: Int = 0): Dataset[Corpus.PageRow] = {
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism * 2
    spark.range(0, n, 1, parts).mapPartitions(_.map(i => Corpus.page(i, seed)))
  }

  /** The narrow map: Page → ExtractedDoc. No shuffle is introduced here —
    * partitioning decisions (salting, sizing) belong to [[ExtractJob]]. */
  def extract(pagesDs: Dataset[Corpus.PageRow],
              templates: Map[String, Template] = Vendor.builtinTemplates)
      : Dataset[ExtractedDoc] =
    pagesDs.map(p => Extractor.extract(p.url, p.html, p.text, p.lang, templates))

  /** DataFrame adapter for tables matching the input_hint schema
    * `(url string, warc_ts timestamp, html binary, text string, lang string)`.
    * Goes through the Catalyst expression surface with its hand-rolled
    * InternalRow conversion ([[graft.functions.DocRow]]) — ~10× cheaper than
    * the typed path's product encoder; use [[extract]] only when downstream
    * code genuinely needs `Dataset[ExtractedDoc]` objects. */
  def extractDf(pagesDf: DataFrame,
                templates: Map[String, Template] = Vendor.builtinTemplates): DataFrame = {
    import org.apache.spark.sql.functions.col
    pagesDf
      .select(graft.functions.ExtractDocExpr
        .extractDoc(col("url"), col("html"), col("text"), col("lang"), templates).as("doc"))
      .select(col("doc.*"))
  }
}
