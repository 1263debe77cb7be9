package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.kernel.Corpus

/** Fixtures for the "lineage equals the table" checks: what a run's lineage
  * rows say about each bucket must be what the committed docs table says. */
object LineageChecks {

  val EmptyUrl = "https://edge.test/empty"
  val BlankUrl = "https://edge.test/blank"

  /** Corpus pages plus one row per lineage count the corpus alone leaves
    * untested: an empty payload (`failure = "empty_payload"`), an html page
    * with no text (`failure = ""`, `nItems = 0`) and a null url (a null doc
    * struct: a doc, but no bytes, failure or emptiness). */
  def pagesWithEdgeRows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val ts = new java.sql.Timestamp(Corpus.BaseEpochMs)
    val edge = Seq(
      Corpus.PageRow(EmptyUrl, ts, Array.emptyByteArray, "", "en"),
      Corpus.PageRow(BlankUrl, ts, "<html><body></body></html>".getBytes(UTF_8), "", "en"),
      Corpus.PageRow(null, ts, "<p>no url</p>".getBytes(UTF_8), "", "en"))
    ExtractPipeline.pages(spark, n).toDF().unionByName(edge.toDS().toDF())
  }

  /** `(bucket, docs, bytes, failures, emptyDocs)` of `runId`'s lineage rows,
    * in bucket order. */
  def lineageCounts(lineage: DataFrame, runId: String): Seq[Seq[Any]] =
    sorted(lineage.filter(col("runId") === runId)
      .select(col("bucket").cast("long"), col("docs"), col("bytes"), col("failures"),
        col("emptyDocs")))

  /** The same tuples rolled up from a committed docs table. */
  def tableCounts(docs: DataFrame): Seq[Seq[Any]] = sorted(BucketRollup.ofTable(docs))

  /** Column sums of [[lineageCounts]] as `(docs, bytes, failures, emptyDocs)`,
    * a null `bytes` counting 0. */
  def totals(counts: Seq[Seq[Any]]): (Long, Long, Long, Long) = {
    def sum(i: Int): Long = counts.map(r => Option(r(i)).fold(0L)(_.asInstanceOf[Long])).sum
    (sum(1), sum(2), sum(3), sum(4))
  }

  def totals(m: ExtractJob.Metrics): (Long, Long, Long, Long) =
    (m.docs, m.bytes, m.failedDocs, m.emptyDocs)

  private def sorted(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
}
