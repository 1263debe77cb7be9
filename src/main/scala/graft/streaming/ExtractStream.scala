package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.spark.ExtractPipeline

/** Structured Streaming surface of the extraction engine: the same pure
  * kernel scheduled incrementally over a file-backed page stream.
  *
  * The batch job (ExtractJob) owns the 10^12-doc backfill; this surface owns
  * the continuous tail — new crawl snapshots landing as parquet files are
  * extracted exactly-once via the streaming checkpoint (file-source log +
  * sink commit log), which replaces ExtractJob's lineage anti-join with
  * Spark's own WAL. `Trigger.AvailableNow` drains the backlog and stops, so
  * the same code serves scheduled incremental runs (the idiomatic
  * "streaming-as-incremental-batch" deployment) or a live `processingTime`
  * trigger unchanged.
  */
object ExtractStream {

  /** input_hint schema `(url, warc_ts, html, text, lang)`. */
  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Incremental extraction: file stream → kernel → parquet sink.
    * Exactly-once: the checkpoint tracks consumed input files and committed
    * output batches; reruns after a crash reprocess only uncommitted files. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpointDir: String, maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val pages = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger) // bound per-batch work
      .parquet(inDir)
    val docs = ExtractPipeline.extractDf(pages)
    docs.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked tumbling-window rollup over the extracted stream: docs and
    * failures per (1-minute warc_ts window, route). Uses the Catalyst
    * `Expression` surface so event time flows through extraction untouched.
    * Late pages beyond the 2-minute watermark are dropped — state stays
    * bounded, the property that matters at a 10^12-doc tail. */
  def windowedRollup(pages: DataFrame): DataFrame = {
    import graft.functions.ExtractDocExpr
    pages
      .withColumn("doc",
        ExtractDocExpr.extractDoc(col("url"), col("html"), col("text"), col("lang")))
      .withWatermark("warc_ts", "2 minutes")
      .groupBy(window(col("warc_ts"), "1 minute"), col("doc.route").as("route"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("doc.failure") =!= "", 1L).otherwise(0L)).as("n_failures"),
           sum(length(col("doc.extractedText"))).cast("long").as("sum_text_chars"))
  }
}
