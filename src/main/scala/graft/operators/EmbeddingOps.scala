package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import OpsCommon._

/** Similarity search over the `embeddings` table (`vec_id, embedding:
  * array<float> (64-d), label`).
  *
  * Three tiers, mirroring how ANN actually scales on Spark:
  *
  *  - '''brute-force top-k''' (q22): the correctness baseline — broadcast the
  *    query vector, one narrow map computing cosine, TakeOrdered for top-k.
  *    At 100 TB this stays the right plan for a SINGLE query (scan-bound, no
  *    shuffle); it's the batch-of-queries case that needs an index.
  *  - '''sign-LSH bucketing''' (q23): hyperplane-sign signature as bucket key
  *    (axis-aligned planes so the DuckDB oracle reproduces it exactly);
  *    candidates = same-bucket join. This is the IVF-style scale path:
  *    bucket count grows with corpus size, the per-bucket join is the only
  *    shuffle, and skewed buckets get salted like any hot key.
  *  - '''near-dup pairs''' (q24): all-pairs cosine within a blocking key
  *    (`label`) — the embedding-cosine dedup pass, blocked exactly like
  *    n-gram dedup blocks on source.
  *
  * All arithmetic is double, left-to-right folds ([[OpsCommon.dot]]) so both
  * engines execute identical IEEE op sequences. Norms are computed ONCE per
  * vector before any pairing (O(n·d)) rather than per pair (O(n²·d)) — same
  * values, ~d× less work on the pair stage.
  */
object EmbeddingOps {

  /** Vectors with precomputed L2 norm. */
  private def embDocs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDoubles(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(norm2(col("v"))))

  private val embSql =
    "SELECT vec_id, label, v, sqrt(" + norm2Sql("v") + ") AS nrm FROM " +
      "(SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"

  /** Cosine from precomputed norms (pair stage does only the dot). */
  private def cosPre(va: Column, vb: Column, na: Column, nb: Column): Column =
    round(dot(va, vb) / (na * nb), 4)

  private def cosPreSql(va: String, vb: String, na: String, nb: String): String =
    s"round(${dotSql(va, vb)} / ($na * $nb), 4)"

  /** q22_cosine_topk — brute-force cosine top-10 for the query vector
    * (vec_id = 0), the ANN correctness baseline. */
  def q22CosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = embDocs(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"), col("nrm").as("qn"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("sim", cosPre(col("v"), col("qv"), col("nrm"), col("qn")))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(10)
  }

  val q22CosineTopkSql: String =
    s"""WITH e AS ($embSql),
       |q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 0)
       |SELECT vec_id, label, ${cosPreSql("v", "qv", "nrm", "qn")} AS sim
       |FROM e CROSS JOIN q WHERE vec_id <> 0
       |ORDER BY sim DESC, vec_id ASC LIMIT 10""".stripMargin

  val LshDims = 4

  /** Sign-LSH bucket id over 4 axis-aligned hyperplanes starting at dim
    * `offset` (0-based): bucket = Σ (v[offset+d] > 0) << d — 16 buckets. */
  private def lshBucketAt(v: Column, offset: Int): Column =
    (0 until LshDims)
      .map(d => when(element_at(v, offset + d + 1) > 0.0, 1L << d).otherwise(0L))
      .reduce(_ + _)

  private def lshBucketSqlAt(offset: Int): String =
    (0 until LshDims)
      .map(d => s"(CASE WHEN v[${offset + d + 1}] > 0.0 THEN ${1L << d} ELSE 0 END)")
      .mkString(" + ")

  private def lshBucket(v: Column): Column = lshBucketAt(v, 0)
  private val lshBucketSql: String = lshBucketSqlAt(0)

  /** q23_ann_lsh — LSH-bucketed ANN for the query vector: candidates share
    * the query's sign-bucket (≈ n/16 of the corpus), ranked by true cosine.
    * The recall/cost dial is the number of hyperplanes. */
  def q23AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embDocs(spark, dir).withColumn("bucket", lshBucket(col("v")))
    val q = e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"), col("bucket").as("qbucket"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("bucket") === col("qbucket"))
      .withColumn("sim", cosPre(col("v"), col("qv"), col("nrm"), col("qn")))
      .select(col("vec_id"), col("bucket"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(5)
  }

  val q23AnnLshSql: String =
    s"""WITH e AS (SELECT vec_id, label, v, nrm, $lshBucketSql AS bucket FROM ($embSql)),
       |q AS (SELECT v AS qv, nrm AS qn, bucket AS qbucket FROM e WHERE vec_id = 0)
       |SELECT vec_id, bucket, ${cosPreSql("v", "qv", "nrm", "qn")} AS sim
       |FROM e JOIN q ON bucket = qbucket WHERE vec_id <> 0
       |ORDER BY sim DESC, vec_id ASC LIMIT 5""".stripMargin

  /** Candidate bands for the near-dup pass: [[NeardupBands]] independent
    * 4-hyperplane sign signatures (dims 1–4 and 5–8). A pair is a candidate
    * iff SOME band agrees — the same b-band S-curve as MinHash LSH, here over
    * sign bits. Recall at the 0.25 threshold is the documented trade; the
    * exact-cosine stage verifies every surviving candidate. */
  val NeardupBands = 2

  /** Hot-bucket salting bounds for the candidate band join (same guard as
    * [[DedupOps.LshHotBucketCap]] — see [[OpsCommon.saltedSelfPairs]]). */
  val NeardupHotCap = 256
  val NeardupSalts = 8

  /** q24_emb_neardup — embedding-cosine near-dup pairs within a label block,
    * with a sign-LSH candidate stage: pairs must share a sign bucket in some
    * band BEFORE any cosine is computed. The pair stage is bounded by
    * (label × band × bucket) group sizes — label-block all-pairs is
    * O(Σ|block|²) and does not survive 100× (it was 17% of the sf0.1 headline
    * wall time); bucketed candidates keep the join sparse while band count
    * dials recall. */
  def q24EmbNeardup(spark: SparkSession, dir: String): DataFrame = {
    val e = embDocs(spark, dir)
      .withColumn("b0", lshBucketAt(col("v"), 0))
      .withColumn("b1", lshBucketAt(col("v"), LshDims))
    val buckets = e.select(col("vec_id"), col("label"),
      explode(map(lit(0), col("b0"), lit(1), col("b1"))).as(Seq("band", "bkt")))
    val hot = buckets.groupBy("label", "band", "bkt").count().filter(col("count") > NeardupHotCap)
    val cand = saltedSelfPairs(buckets, Seq("label", "band", "bkt"), "vec_id",
        hot, NeardupSalts)
      .select(col("label"), col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb")), "id_b")
      .withColumn("sim", cosPre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= 0.25)
      .select(col("label"), col("id_a"), col("id_b"), col("sim"))
      .orderBy(col("label"), col("id_a"), col("id_b"))
  }

  val q24EmbNeardupSql: String =
    s"""WITH e AS (SELECT vec_id, label, v, nrm,
       |    ${lshBucketSqlAt(0)} AS b0, ${lshBucketSqlAt(LshDims)} AS b1
       |  FROM ($embSql)),
       |buckets AS (
       |  SELECT vec_id, label, 0 AS band, b0 AS bkt FROM e
       |  UNION ALL
       |  SELECT vec_id, label, 1 AS band, b1 AS bkt FROM e),
       |cand AS (
       |  SELECT DISTINCT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM buckets a JOIN buckets b
       |    ON a.label = b.label AND a.band = b.band AND a.bkt = b.bkt
       |   AND a.vec_id < b.vec_id)
       |SELECT label, id_a, id_b, sim FROM (
       |  SELECT c.label, c.id_a, c.id_b,
       |    ${cosPreSql("ea.v", "eb.v", "ea.nrm", "eb.nrm")} AS sim
       |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a
       |              JOIN e eb ON eb.vec_id = c.id_b)
       |WHERE sim >= 0.25
       |ORDER BY label, id_a, id_b""".stripMargin

  val IvfSeeds = 16
  val IvfProbes = 2

  /** Fixed Lloyd iterations refining the IVF coarse quantizer (VERDICT r04
    * "next round" #7 — first-16 seeds alone are arbitrary cells, not an
    * index). Three rounds is the classic "most of k-means' gain" point; a
    * FIXED count keeps the index a pure function of the data (deterministic,
    * oracle-expressible as three CTE rounds). */
  val IvfLloydRounds = 3

  /** Embedding dimensionality of the `embeddings` table. */
  val EmbDims = 64

  /** Squared L2 distance, left-to-right fold (deterministic). */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  private def l2sqSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> (x[1]-x[2])*(x[1]-x[2])))"

  /** Every vector of `e` with `ranked`, the centroids as (dist, seed_id)
    * structs nearest first (ties → smaller centroid id), and `seed_id`, its
    * nearest one. A narrow projection over the centroids collected into one
    * broadcast `cs` array: the corpus is never shuffled. */
  private def rankCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents.agg(collect_list(struct(col("seed_id"), col("sv"))).as("cs"))))
      .withColumn("ranked", array_sort(transform(col("cs"), c =>
        struct(l2sq(col("v"), c.getField("sv")).as("dist"),
          c.getField("seed_id").as("seed_id")))))
      .withColumn("seed_id", col("ranked")(0).getField("seed_id"))

  /** [[IvfLloydRounds]] Lloyd iterations from the first-[[IvfSeeds]] seeds.
    * Centroid update = per-dim mean of the assigned vectors, summed through
    * DECIMAL ([[OpsCommon.decSum]]) so the result is identical under ANY
    * partitioning on either engine (double addition is order-sensitive; the
    * q25 lesson applied to k-means). Cells that lose every member keep
    * their previous centroid. Each round: one narrow assignment
    * ([[rankCells]]) + one (cell, dim) partial agg, and the round's
    * centroids are `localCheckpoint`ed, so the next round plans from that
    * leaf instead of re-embedding every earlier round. */
  private def lloydCentroids(e: DataFrame): DataFrame = {
    val seeds = e.filter(col("vec_id") < IvfSeeds)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    (1 to IvfLloydRounds).foldLeft(seeds) { (cents, _) =>
      val means = rankCells(e, cents)
        .select(col("seed_id"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("seed_id"), col("dim"))
        .agg((OpsCommon.decSum(col("val"), 9) / count(lit(1))).as("c"))
        .groupBy(col("seed_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c")).as("sv"))
      means.union(cents.join(means.select(col("seed_id")), Seq("seed_id"), "left_anti"))
        .localCheckpoint()
    }
  }

  /** DuckDB mirror of [[lloydCentroids]]: [[IvfLloydRounds]] CTE rounds of
    * assign (window rank over a cross join with the 16 centroids) + update
    * (per-dim decimal-sum mean, `list(... ORDER BY dim)` re-assembly). */
  private def lloydCentroidsSql: String = {
    val rounds = (1 to IvfLloydRounds).map { r =>
      s"""assign$r AS (
         |  SELECT vec_id, v, seed_id FROM (
         |    SELECT e.vec_id, e.v, c.seed_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${l2sqSql("e.v", "c.sv")} ASC, c.seed_id ASC) AS rk
         |    FROM e CROSS JOIN cents${r - 1} c) WHERE rk = 1),
         |means$r AS (
         |  SELECT seed_id, list(c ORDER BY dim) AS sv FROM (
         |    SELECT seed_id, dim,
         |      ${OpsCommon.decSumSql("val", 9)} / count(*) AS c
         |    FROM (SELECT seed_id, i AS dim, v[i + 1] AS val
         |          FROM assign$r CROSS JOIN range($EmbDims) t(i))
         |    GROUP BY 1, 2)
         |  GROUP BY 1),
         |cents$r AS (
         |  SELECT * FROM means$r
         |  UNION ALL
         |  SELECT * FROM cents${r - 1}
         |  WHERE seed_id NOT IN (SELECT seed_id FROM means$r))""".stripMargin
    }.mkString(",\n")
    s"""cents0 AS (SELECT vec_id AS seed_id, v AS sv FROM e WHERE vec_id < $IvfSeeds),
       |$rounds""".stripMargin
  }

  /** q37_ann_ivf — IVF ANN with a REAL trained coarse quantizer:
    * [[IvfLloydRounds]] fixed Lloyd iterations from the first-[[IvfSeeds]]
    * seeds (deterministic, so the DuckDB oracle reproduces the index
    * bit-for-bit); every vector is assigned to its nearest centroid (ties →
    * smaller centroid id), the query probes the first [[IvfProbes]] cells of
    * its own ranking, and candidates in those cells are ranked by true
    * cosine. At corpus scale the centroid array stays broadcast (k-means
    * output, KBs) and the corpus is never shuffled: the probe cells are
    * broadcast into the cell-id join — the same dataflow as a production
    * IVF index. Building the frame runs the Lloyd rounds' jobs. */
  def q37AnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = embDocs(spark, dir)
    val assigned = rankCells(e, lloydCentroids(e))
      .select(col("vec_id"), col("v"), col("nrm"), col("ranked"), col("seed_id").as("cell"))
    val qCells = assigned.filter(col("vec_id") === 0)
      .select(explode(slice(col("ranked"), 1, IvfProbes).getField("seed_id")).as("probe_cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(qCells), col("cell") === col("probe_cell"))
      .withColumn("sim", cosPre(col("v"), col("qv"), col("nrm"), col("qn")))
      .select(col("vec_id"), col("cell"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(5)
  }

  val q37AnnIvfSql: String =
    s"""WITH e AS ($embSql),
       |$lloydCentroidsSql,
       |seeds AS (SELECT seed_id, sv FROM cents$IvfLloydRounds),
       |assigned AS (
       |  SELECT vec_id, label, v, nrm, seed_id AS cell FROM (
       |    SELECT e.vec_id, e.label, e.v, e.nrm, s.seed_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${l2sqSql("e.v", "s.sv")} ASC, s.seed_id ASC) AS rk
       |    FROM e CROSS JOIN seeds s) WHERE rk = 1),
       |qcells AS (
       |  SELECT q.seed_id AS probe_cell, q.qv, q.qn FROM (
       |    SELECT e0.qv, e0.qn, s.seed_id,
       |      row_number() OVER (
       |        ORDER BY ${l2sqSql("e0.qv", "s.sv")} ASC, s.seed_id ASC) AS rk
       |    FROM (SELECT v AS qv, nrm AS qn FROM assigned WHERE vec_id = 0) e0
       |    CROSS JOIN seeds s) q
       |  WHERE q.rk <= $IvfProbes)
       |SELECT a.vec_id, a.cell, ${cosPreSql("a.v", "qv", "a.nrm", "qn")} AS sim
       |FROM assigned a JOIN qcells ON a.cell = probe_cell
       |WHERE a.vec_id <> 0
       |ORDER BY sim DESC, a.vec_id ASC LIMIT 5""".stripMargin

  /** Batch size and per-query k for q53. */
  val AnnBatch = 8
  val AnnBatchK = 3

  /** q53_ann_batch — N query vectors answered in ONE corpus pass (VERDICT
    * r04 "missing": q22/q23/q37 serve one query each; single-query ANN is
    * scan-bound, it's the BATCH case that actually needs an index at
    * 10^12 docs). The first [[AnnBatch]] vectors form the query batch; every
    * corpus vector joins the queries sharing its sign-LSH bucket, then a
    * per-query window keeps the top-[[AnnBatchK]] by true cosine.
    *
    * Plan shape: ONE scan of the corpus side, broadcast of the query batch
    * (queries × 16 buckets is KBs; for a query set too big to broadcast the
    * same query becomes a shuffle equi-join on `bucket` — the dataflow is
    * unchanged), window partitioned BY QUERY (never global). The corpus is
    * read once for all N queries — the amortization that makes batch ANN an
    * index workload rather than N scans. */
  def q53AnnBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = embDocs(spark, dir).withColumn("bucket", lshBucket(col("v")))
    val qs = e.filter(col("vec_id") < AnnBatch)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket").as("qbucket"))
    e.filter(col("vec_id") >= AnnBatch)
      .join(broadcast(qs), col("bucket") === col("qbucket"))
      .withColumn("sim", cosPre(col("v"), col("qv"), col("nrm"), col("qn")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)))
      .filter(col("rk") <= AnnBatchK)
      .select(col("query_id"), col("rk"), col("vec_id"), col("sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  val q53AnnBatchSql: String =
    s"""WITH e AS (SELECT vec_id, v, nrm, $lshBucketSql AS bucket FROM ($embSql)),
       |qs AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket AS qbucket
       |       FROM e WHERE vec_id < $AnnBatch)
       |SELECT query_id, rk, vec_id, sim FROM (
       |  SELECT query_id, vec_id,
       |    ${cosPreSql("v", "qv", "nrm", "qn")} AS sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY ${cosPreSql("v", "qv", "nrm", "qn")} DESC, vec_id ASC) AS rk
       |  FROM e JOIN qs ON bucket = qbucket WHERE vec_id >= $AnnBatch)
       |WHERE rk <= $AnnBatchK ORDER BY query_id, rk""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_cosine_topk" -> (q22CosineTopk _),
    "q23_ann_lsh" -> (q23AnnLsh _),
    "q24_emb_neardup" -> (q24EmbNeardup _),
    "q37_ann_ivf" -> (q37AnnIvf _),
    "q53_ann_batch" -> (q53AnnBatch _))

  def oracles: Map[String, String] = Map(
    "q22_cosine_topk" -> q22CosineTopkSql,
    "q23_ann_lsh" -> q23AnnLshSql,
    "q24_emb_neardup" -> q24EmbNeardupSql,
    "q37_ann_ivf" -> q37AnnIvfSql,
    "q53_ann_batch" -> q53AnnBatchSql)
}
