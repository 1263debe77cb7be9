package graft.operators

import graft.spark.SparkTestBase
import org.apache.spark.sql.functions._

/** q52 invariants — the properties that make transitive closure over dup
  * pairs an actual DEDUP operator (survivor-set arithmetic per VERDICT r04
  * "next round" #4), checked against q20's verified pairs on sf0.001. */
class DupClusterSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val clusters =
    DedupOps.q52DupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))

  private lazy val pairs =
    DedupOps.q20MinhashLsh(spark, sfDir)
      .filter(col("jaccard") >= DedupOps.DupJaccard)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  test("every verified pair lands in one cluster") {
    val lbl = clusters.map(c => c._1 -> c._2).toMap
    for ((a, b) <- pairs)
      assert(lbl(a) == lbl(b), s"pair ($a,$b) split across clusters")
  }

  test("cluster rep is the minimum member id") {
    val byRep = clusters.groupBy(_._2)
    for ((rep, members) <- byRep)
      assert(members.map(_._1).min == rep,
        s"cluster $rep: min member ${members.map(_._1).min}")
  }

  test("survivor arithmetic: survivors = clusters; non-survivors = nodes - clusters") {
    val nClusters = clusters.map(_._2).distinct.length
    val survivors = clusters.count(_._3)
    assert(survivors == nClusters)
    assert(clusters.length - survivors ==
      clusters.groupBy(_._2).values.map(_.length - 1).sum)
  }

  test("clusters are non-trivial on this corpus (the operator has work to do)") {
    assert(pairs.nonEmpty, "no verified dup pairs at sf0.001 — threshold broke")
    assert(clusters.nonEmpty)
    assert(clusters.length > clusters.map(_._2).distinct.length,
      "every node its own cluster — closure never merged anything")
  }

  /** [[DedupOps.componentLabels]] over hand-built pairs, as doc_id → lbl. */
  private def labelsOf(pairs: (Long, Long)*): Map[Long, Long] = {
    import spark.implicits._
    DedupOps.componentLabels(pairs.toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("propagation over a 6-node path reaches the far end (5 rounds)") {
    // label 1 moves one hop per round: node 6 gets it in round 5
    val path = (1L to 5L).map(i => (i, i + 1))
    assert(labelsOf(path: _*) == (1L to 6L).map(_ -> 1L).toMap)
  }

  test("propagation labels each of two components by its minimum id") {
    val got = labelsOf((12L, 10L), (11L, 12L), (13L, 11L), (25L, 21L), (21L, 22L))
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      21L -> 21L, 22L -> 21L, 25L -> 21L))
  }

  test("propagation labels an isolated edge by its smaller end") {
    assert(labelsOf((7L, 3L)) == Map(3L -> 3L, 7L -> 3L))
  }
}
