package graft.tools

import graft.spark.Engine

/** Scratch profiler: time individual catalog queries (cold + warm) and dump
  * the formatted plan of the slowest. Usage:
  *   sbt -batch "runMain graft.tools.DebugTiming q3_join_broadcast q4_semi_join"
  */
object DebugTiming {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(Some("local[32]"))
    val names = if (args.nonEmpty) args.toSeq else graft.Bench.headline
    for (name <- names; fn <- graft.SparkEntry.queries.get(name)) {
      val t0 = System.nanoTime(); fn(spark, sfDir).count()
      val cold = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime(); fn(spark, sfDir).count()
      val warm = (System.nanoTime() - t1) / 1e9
      println(f"[timing] $name%-22s cold=$cold%7.2fs warm=$warm%7.2fs")
      if (sys.env.contains("GRAFT_EXPLAIN")) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
