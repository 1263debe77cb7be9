package graft.tools

import org.apache.spark.sql.functions._
import graft.spark.{Engine, ExtractJob, ExtractPipeline}

/** Isolate where local-cluster mode loses throughput vs local[n]:
  * scan+extract (narrow) / +repartition (shuffle) / full job (write).
  * sbt -batch "runMain graft.tools.ClusterStageProbe <master> <corpus parquet>" */
object ClusterStageProbe {
  def time[A](tag: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[stage] $tag ${(System.nanoTime()-t0)/1e9}%.2f s"); r
  }
  def main(args: Array[String]): Unit = {
    val master = args(0)          // e.g. local[16] or local-cluster[8,2,4096]
    val corpus = args(1)
    val spark = Engine.session(Some(master),
      "spark.executor.memory" -> "4096m",
      "spark.executor.extraClassPath" -> System.getProperty("java.class.path"),
      "spark.executor.extraJavaOptions" -> sys.env.getOrElse("PROBE_EXEC_OPTS", ""))
    // warmup every core
    ExtractPipeline.extractDf(ExtractPipeline.pages(spark, 16000, numPartitions = 64).toDF()).foreach(_ => ())
    println("[stage] executors=" + spark.sparkContext.getExecutorMemoryStatus.size)
    val pages = spark.read.parquet(corpus)
    time("scan-only count")(pages.count())
    time("scan+extract")(ExtractPipeline.extractDf(pages).select(sum(length(col("extractedText")))).head())
    time("scan+extract (2nd)")(ExtractPipeline.extractDf(pages).select(sum(length(col("extractedText")))).head())
    time("scan+shuffle+extract")(ExtractPipeline.extractDf(pages.repartition(64)).select(sum(length(col("extractedText")))).head())
    val out = java.nio.file.Files.createTempDirectory("probe").toString
    time("full job")(ExtractJob.run(spark, pages, s"$out/t", runId = "p", nBuckets = 32, numPartitions = 64))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    spark.stop()
  }
}
