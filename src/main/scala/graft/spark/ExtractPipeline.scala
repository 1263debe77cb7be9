package graft.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import graft.kernel._

/** Spark-facing extraction pipeline: schedules the pure kernel over a
  * `Dataset[PageRow]`. The kernel is opaque row-at-a-time Scala, so the
  * idiomatic surface is a typed `mapPartitions` (one deserialization per row,
  * template map resolved once per partition from a broadcast) — Catalyst still
  * owns everything around it: scan pruning, filter pushdown of pre-filters,
  * AQE on downstream shuffles. A Catalyst `Expression` wrapper for the column
  * API lives in [[graft.functions.ExtractDocExpr]].
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

  /** Broadcast the template registry once per job (the reference's
    * loop-invariant hoisting, `ultimate_batch_processor.py:22-28`, graduated
    * to a cluster broadcast — J1 as a broadcast-map lookup, no shuffle). */
  def broadcastTemplates(spark: SparkSession,
                         templates: Map[String, Template] = Vendor.builtinTemplates)
      : Broadcast[Map[String, Template]] =
    spark.sparkContext.broadcast(templates)

  /** The narrow map: Page → ExtractedDoc. No shuffle is introduced here —
    * partitioning decisions (salting, sizing) belong to [[ExtractJob]]. */
  def extract(pagesDs: Dataset[Corpus.PageRow],
              templatesBc: Broadcast[Map[String, Template]]): Dataset[ExtractedDoc] =
    pagesDs.mapPartitions { it =>
      val templates = templatesBc.value // resolved once per partition
      it.map(p => Extractor.extract(p.url, p.html, p.text, p.lang, templates))
    }

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
