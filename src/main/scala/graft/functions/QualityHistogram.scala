package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Custom typed `Aggregator` (the §2.11 UDAF surface): exact fixed-width
  * histogram of quality scores — buffer = 10 bucket counters
  * (`[0,10) … [90,100]`), `reduce` increments one cell, `merge` is
  * element-wise addition. Integer arithmetic end-to-end ⇒ the result is
  * identical under ANY partitioning/merge order — the property a custom
  * aggregation buffer must prove before it is allowed near 100 TB. Exposed
  * as a column function via `functions.udaf` (q41). */
object QualityHistogram extends Aggregator[Double, Array[Long], Seq[Long]] {

  val NumBuckets = 10

  override def zero: Array[Long] = new Array[Long](NumBuckets)

  override def reduce(b: Array[Long], q: Double): Array[Long] = {
    val idx = math.min(NumBuckets - 1, math.max(0, math.floor(q / 10.0).toInt))
    b(idx) += 1
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < NumBuckets) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(r: Array[Long]): Seq[Long] = r.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
