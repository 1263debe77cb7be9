package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry
import graft.spark.SparkTestBase

/** Physical-plan regression gate: the catalog queries must keep the plans
  * they were designed for — filters pushed to the parquet scan, columns
  * pruned, dimensions broadcast, global top-k as TakeOrdered (no full sort),
  * windows partitioned not global. A refactor that silently turns a
  * broadcast join into a sort-merge join or un-pushes a filter fails here,
  * not at 100 TB.
  */
class PlanQualitySpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  /** Every node of an executed plan as it was planned, through cached
    * relations' plans, command wrappers and subqueries. An adaptive plan is
    * read from its input plan: at runtime AQE drops a join whose side came
    * out empty, and with it the stages that computed that side. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cacheBuilder.cachedPlan)
      case _ => p.children ++ p.innerChildren.collect { case c: SparkPlan => c } ++ p.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  /** The executed plan of every action `body` runs (checkpoint jobs
    * included), recorded until a sentinel query's event shows the
    * (asynchronous) listener bus has delivered all earlier ones. */
  private def plansDuring(body: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    val tag = s"plan_gate_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val done = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.analyzed.output.exists(_.name == tag)) done.countDown()
        else seen.add(qe.executedPlan)
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(tag).collect()
      assert(done.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  test("q2_filter: predicates reach the parquet scan, schema pruned") {
    val p = plan("q2_filter")
    assert(p.contains("PushedFilters:"), "no pushed filters in scan")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      s"shipdate predicate not pushed:\n$p")
    // projection pruning: the scan must NOT read l_tax / l_linenumber
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_linenumber"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q3_join_broadcast: both dimension joins are broadcast, no shuffle of dims") {
    val p = plan("q3_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("q4/q5: semi and anti joins stay semi/anti (no materialized inner join)") {
    assert(plan("q4_semi_join").contains("LeftSemi"))
    assert(plan("q5_anti_join").contains("LeftAnti"))
  }

  test("q8_sort_limit: global top-k is TakeOrdered, not a full sort") {
    val p = plan("q8_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), s"top-k plans a full sort:\n$p")
  }

  test("q6_topk_window: window is partitioned by nation (no single-partition window)") {
    val p = plan("q6_topk_window")
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(s_nationkey"), s"window not partitioned:\n$p")
  }

  test("q1_agg: aggregation is two-phase (partial before shuffle)") {
    val p = plan("q1_agg")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q22_cosine_topk: query vector is broadcast, corpus side not shuffled") {
    val p = plan("q22_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query vector not broadcast:\n$p")
  }

  test("q19/q20/q24: pair stages are bucket equi-joins, never a product join") {
    for (q <- Seq("q19_dedup_ngram", "q20_minhash_lsh", "q24_emb_neardup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidate stage degenerated to a product join:\n$p")
    }
  }

  test("q19: shingle self-join is hot-key salted (VERDICT r04 #2)") {
    // saltedSelfPairs tags both sides with a deterministic salt column and
    // joins on it; the physical plan must carry the salt in the join keys
    // (the guard that spreads a DF≈999 posting list across LshSalts tasks)
    val p = plan("q19_dedup_ngram")
    assert(p.contains("salt"), s"q19 pair join lost its hot-key salting:\n$p")
  }

  test("shingles: the text is split once, before the explode") {
    // the shingle lambda is evaluated interpreted, without CSE: a split
    // inside the generator would run again for every shingle of the doc
    val gens = nodes(DedupOps.shingles(spark, sfDir).queryExecution.executedPlan)
      .collect { case g: GenerateExec => g.generator.toString }
    assert(gens.size == 1, s"expected one explode: $gens")
    assert(!gens.head.contains("split("), s"the explode splits the text per shingle: $gens")
  }

  test("q19: one shingle census across every job a call runs") {
    // a partial aggregate keyed by the shingle `g` over the shingle explode,
    // counted once per plan node across the checkpoint jobs the build runs
    // and the final action (cached relations' plans included). A stop
    // census by g beside a hot-key census by (g, source) under each side of
    // the salted join would count three.
    def shingleCensus(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.exists(_.name == "g") &&
          a.aggregateExpressions.exists(_.mode == Partial) &&
          nodes(a).exists {
            case g: GenerateExec => g.generatorOutput.exists(_.name == "g")
            case _ => false
          }
      case _ => false
    }
    spark.catalog.clearCache()
    val censuses = plansDuring {
      SparkEntry.queries("q19_dedup_ngram")(spark, sfDir).collect()
    }.flatMap(nodes).filter(shingleCensus)
      .map(a => System.identityHashCode(a) -> a).toMap.values
    assert(censuses.size == 1, s"expected one census, got:\n${censuses.mkString("\n")}")
  }

  test("q37_ann_ivf: cells ranked by one array expression, corpus never shuffled") {
    val p = plan("q37_ann_ivf")
    assert(!p.contains("Window"), s"cell assignment plans a window:\n$p")
    assert(!p.contains("hashpartitioning(vec_id"), s"corpus shuffled by vec_id:\n$p")
    // the Lloyd rounds start from checkpointed centroids, so besides the
    // broadcasts only the centroid collect (or a (cell, dim) mean) may shuffle
    val shuffles = p.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toSeq
    assert(shuffles.forall(l => l.contains("Exchange SinglePartition") ||
      l.contains("hashpartitioning(seed_id")), s"unexpected shuffle:\n$p")
    // one round's plan: earlier rounds are not re-embedded
    assert(p.linesIterator.size < 100, s"plan grows with the rounds:\n$p")
  }

  test("q52_dup_clusters: the result plans from the last round's labels only") {
    val p = plan("q52_dup_clusters")
    // projection + output sort over the checkpointed labels: no earlier
    // round, and no q20 pair stage, nested under it
    assert(p.linesIterator.size < 20, s"plan embeds earlier rounds:\n${p.take(4000)}")
    assert("Exchange".r.findAllIn(p).length == 1, s"expected the sort's exchange only:\n$p")
  }

  test("q53_ann_batch: query batch broadcast, per-query window (no global sort)") {
    val p = plan("q53_ann_batch")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"query batch not broadcast:\n$p")
    assert(p.contains("hashpartitioning(query_id"),
      s"top-k window not partitioned by query:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q28_fuzzy_match: native SimRatio expression, no UDF node in the plan") {
    val p = plan("q28_fuzzy_match")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"fuzzy match fell back to a UDF:\n$p")
    assert(p.contains("sim_ratio("), s"SimRatio expression missing from plan:\n$p")
  }

  test("q38_extract_pages: generator explode over one narrow map, two-phase agg") {
    val p = plan("q38_extract_pages")
    assert(p.contains("Generate"), s"posexplode missing:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
    // narrow pipeline: corpus → expression → explode → partial agg, then the
    // grouping exchange + the count-distinct expansion + the output sort —
    // never a join/cross-product on the exploded rows
    val shuffles = "Exchange".r.findAllIn(p).length
    assert(shuffles <= 3, s"expected ≤3 exchanges (agg + distinct + order), got $shuffles:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q40_cube: grouping sets stay one two-phase aggregation (single expand)") {
    val p = plan("q40_cube")
    assert(p.contains("Expand"), s"cube should plan an Expand node:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("q31_asof_join: single shuffle on the join key, windowed (no range explosion)") {
    val p = plan("q31_asof_join")
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of degenerated to a product join:\n$p")
  }

  test("q43_csv_render: builtin-expression render — no UDF, top-k as TakeOrdered") {
    val p = plan("q43_csv_render")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"CSV render fell back to a UDF:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ordered limit plans a full sort:\n$p")
  }

  test("bucketed tables co-locate the join: no Exchange on either side") {
    import org.apache.spark.sql.functions._
    // the 100 TB co-located-join story: two tables bucketed on the join key
    // at write time join WITHOUT any shuffle — the physical plan has zero
    // Exchange nodes (vs two full shuffles for unbucketed parquet)
    val wh = java.nio.file.Files.createTempDirectory("graft_bucket_spec").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bspec LOCATION '$wh'")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("source"), col("lang"))
      val toks = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      docs.write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable("bspec.docs_b")
      toks.write.bucketBy(8, "doc_id").sortBy("doc_id")
        .mode("overwrite").saveAsTable("bspec.toks_b")
      // disable broadcast so the planner must pick the bucket-aware SMJ (at
      // real scale neither side is broadcastable — that is the case bucketing
      // exists for; sf0.001 tables would otherwise be broadcast)
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("bspec.docs_b")
          .join(spark.table("bspec.toks_b"), "doc_id")
        val p = joined.queryExecution.executedPlan.toString
        assert(!p.contains("Exchange"),
          s"bucketed join still shuffles:\n$p")
        assert(p.contains("SortMergeJoin"), p)
        assert(joined.count() == docs.count())
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS bspec CASCADE")
    }
  }

  test("salted repartition spreads giant-doc bytes evenly across tasks") {
    import org.apache.spark.sql.functions._
    // corpus plants one ~70x giant per 1000 docs; without salting these
    // cluster and one task tail-drags the stage
    val pages = graft.spark.ExtractPipeline.pages(spark, 12000).toDF()
    val prepared = graft.spark.ExtractJob.saltedRepartition(
      graft.spark.ExtractJob.withBucket(pages, 16), 48, 16)
    val sizes = prepared
      .select(spark_partition_id().as("pid"), length(col("html")).as("b"))
      .groupBy(col("pid")).agg(sum(col("b")).as("bytes"))
      .collect().map(_.getLong(1))
    // hashing (bucket, salt) combos into partitions leaves some empty
    // (balls-in-bins); the guard is about the LOADED partitions: no task
    // may dominate the stage even with the planted ~70x giant documents
    assert(sizes.length >= 24, s"too few loaded partitions: ${sizes.length}")
    val avg = sizes.sum.toDouble / sizes.length
    assert(sizes.max < 3.0 * avg,
      s"skewed partitions: max=${sizes.max} avg=$avg (${sizes.sorted.mkString(",")})")
  }

  test("extraction job plan: single narrow map over the scan, one shuffle (salt)") {
    import org.apache.spark.sql.functions.col
    val pages = graft.spark.ExtractPipeline.pages(spark, 100).toDF()
    val prepared = graft.spark.ExtractJob.saltedRepartition(
      graft.spark.ExtractJob.withBucket(pages, 8), 16, 8)
    val extracted = graft.spark.ExtractPipeline.extractDf(prepared)
    val p = extracted.queryExecution.executedPlan.toString
    val shuffles = "Exchange".r.findAllIn(p).length
    assert(shuffles == 1, s"extraction path must have exactly the salt shuffle, got $shuffles:\n$p")
  }

  test("extraction job never re-reads its own output (one lineage scan on resume)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}

    // root paths of every file scan the plans of `body` execute
    def scansDuring(body: => Unit): Seq[String] =
      plansDuring(body).flatMap(nodes).flatMap {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toUri.getPath)
        case b: BatchScanExec => b.scan match {
          case f: FileScan => f.fileIndex.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
        case _ => Nil
      }

    val out = java.nio.file.Files.createTempDirectory("graft_plan_gate").toString
    val pages = graft.spark.ExtractPipeline.pages(spark, 100).toDF()
    def under(dir: String)(paths: Seq[String]): Seq[String] =
      paths.filter(p => p == dir || p.startsWith(dir + "/"))

    val fresh = scansDuring {
      graft.spark.ExtractJob.run(spark, pages, out, runId = "gate1", nBuckets = 8)
    }
    assert(under(s"$out/docs")(fresh).isEmpty && under(s"$out/lineage")(fresh).isEmpty,
      s"a fresh run re-read its own output: ${fresh.mkString(", ")}")

    val resumed = scansDuring {
      graft.spark.ExtractJob.run(spark, pages, out, runId = "gate2", nBuckets = 8,
        resume = true)
    }
    assert(under(s"$out/docs")(resumed).isEmpty, resumed.mkString(", "))
    assert(under(s"$out/lineage")(resumed).size == 1,
      s"resume should read the lineage once: ${resumed.mkString(", ")}")
  }
}

