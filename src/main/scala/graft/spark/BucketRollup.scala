package graft.spark

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The per-bucket lineage counts of a docs table, as ONE aggregate
  * expression, so `Dataset.observe` can take them during the action that
  * writes the table instead of a second pass over it.
  *
  * The definitions are those of [[ofTable]], null semantics included: a row
  * whose doc struct is null counts as a doc and nothing else, and `bytes` is
  * null for a bucket whose every `nBytes` is null. The buffer is sparse in
  * the bucket id: a task holds only the buckets its rows fall in (the salted
  * repartition co-groups them), so its size tracks the rows, not `nBuckets`.
  */
object BucketRollup {

  /** One bucket's counts; `bytes` is meaningful only when `bytesSeen > 0`. */
  final case class Counts(docs: Long, bytes: Long, bytesSeen: Long, failures: Long,
                          emptyDocs: Long)

  /** The rollup over a docs frame's `bucket`, `nBytes`, `failure` and
    * `nItems` columns. */
  def column: Column =
    udaf(Agg, Encoders.product[In])(col("bucket"), col("nBytes"), col("failure"), col("nItems"))

  /** The same counts by a second pass over a committed docs table, one row
    * per bucket: `(bucket: long, docs, bytes, failures, emptyDocs)`. */
  def ofTable(docs: DataFrame): DataFrame =
    docs.groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("docs"), sum(col("nBytes")).as("bytes"),
        sum(when(col("failure") =!= "", 1L).otherwise(0L)).as("failures"),
        sum(when(col("failure") === "" && col("nItems") === 0, 1L).otherwise(0L))
          .as("emptyDocs"))

  /** Decode an observation row whose only metric is [[column]]. */
  def decode(observed: Row): Map[Long, Counts] =
    observed.getMap[Long, scala.collection.Seq[Long]](0).toMap.map { case (b, c) =>
      b -> Counts(c(0), c(1), c(2), c(3), c(4))
    }

  /** One docs row's rolled-up columns; `None` where the row holds null. */
  final case class In(bucket: Long, nBytes: Option[Long], failure: Option[String],
                      nItems: Option[Int])

  private type Buf = mutable.LongMap[Array[Long]] // bucket → Counts' fields, in order

  private object Agg extends Aggregator[In, Buf, Map[Long, Seq[Long]]] {
    def zero: Buf = mutable.LongMap.empty

    def reduce(buf: Buf, in: In): Buf = {
      val c = buf.getOrElseUpdate(in.bucket, new Array[Long](5))
      c(0) += 1
      in.nBytes.foreach { b => c(1) += b; c(2) += 1 }
      in.failure.foreach { f =>
        if (f.nonEmpty) c(3) += 1
        else if (in.nItems.contains(0)) c(4) += 1
      }
      buf
    }

    def merge(buf: Buf, other: Buf): Buf = {
      other.foreachEntry { (k, o) =>
        val c = buf.getOrElseUpdate(k, new Array[Long](5))
        for (i <- c.indices) c(i) += o(i)
      }
      buf
    }

    def finish(buf: Buf): Map[Long, Seq[Long]] =
      buf.iterator.map { case (k, c) => k -> c.toSeq }.toMap

    def bufferEncoder: Encoder[Buf] = Encoders.javaSerialization[Buf]
    def outputEncoder: Encoder[Map[Long, Seq[Long]]] = ExpressionEncoder[Map[Long, Seq[Long]]]()
  }
}
