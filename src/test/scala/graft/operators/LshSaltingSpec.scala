package graft.operators

import org.apache.spark.sql.functions._
import graft.spark.SparkTestBase

/** Hot-bucket salting contract ([[OpsCommon.saltedSelfPairs]], the 10^12-doc
  * guard for the q20/q24 LSH band joins): a planted pathological bucket must
  * (a) yield EXACTLY the same candidate-pair set as the plain self-join, and
  * (b) have its pairs spread across multiple salt groups with a bounded
  * per-group pair count — the property that turns an m²-pair straggler task
  * into m²/salts per task. */
class LshSaltingSpec extends SparkTestBase {

  private val HotCap = 20
  private val Salts = 4

  private lazy val buckets = {
    import spark.implicits._
    // one pathological bucket of 60 ids + a handful of cold buckets
    val hot = (0 until 60).map(i => (0, "HOT", i.toLong))
    val cold = (0 until 10).map(i => (1, s"c${i % 3}", (100 + i).toLong))
    (hot ++ cold).toDF("band", "bval", "doc_id")
  }

  private def plainPairs = buckets.as("a")
    .join(buckets.as("b"),
      col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
        col("a.doc_id") < col("b.doc_id"))
    .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))

  // the caller counts its buckets, as q20 and q24 do
  private def hotKeys = buckets.groupBy("band", "bval").count().filter(col("count") > HotCap)

  private def saltedPairs = OpsCommon.saltedSelfPairs(
    buckets, Seq("band", "bval"), "doc_id", hotKeys, Salts)

  private def assertSamePairs(salted: org.apache.spark.sql.DataFrame): Unit = {
    val plain = plainPairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = salted.select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == plain)
    // and no pair is emitted twice per bucket (each pair matches exactly one
    // b-side salt replica)
    assert(salted.count() == plain.size)
  }

  test("salted pair set is identical to the plain self-join") {
    assertSamePairs(saltedPairs)
  }

  test("marking every key hot keeps the pair set, each pair once") {
    // q19 passes census rows over the cap, stop shingles among them: a key
    // marked hot must never change the pairs, only spread them
    val allHot = buckets.select(col("band"), col("bval")).distinct()
    assertSamePairs(OpsCommon.saltedSelfPairs(
      buckets, Seq("band", "bval"), "doc_id", allHot, Salts))
  }

  test("hot-bucket pairs are spread across salts with bounded group sizes") {
    val groups = saltedPairs
      .filter(col("bval") === "HOT")
      .groupBy(col("salt")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val hotPairs = 60L * 59 / 2
    assert(groups.values.sum == hotPairs)
    assert(groups.size > 1, s"expected >1 salt group, got $groups")
    // no single task group carries more than half the bucket's pairs
    assert(groups.values.max <= hotPairs / 2,
      s"per-salt pair counts not bounded: $groups")
  }

  test("cold buckets all ride salt 0 (no replication)") {
    val cold = saltedPairs.filter(col("bval") =!= "HOT")
    assert(cold.filter(col("salt") =!= 0).count() == 0)
  }
}
