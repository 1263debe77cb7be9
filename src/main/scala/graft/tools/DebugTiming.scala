package graft.tools

import scala.util.control.NonFatal
import graft.spark.Engine

/** Scratch profiler: time individual catalog queries (cold + warm, with
  * Bench's query timer) and, with GRAFT_EXPLAIN set, dump each formatted
  * plan. A query that throws prints `[timing] <name> failed: <exception>`
  * and the rest still run. Usage:
  *   sbt -batch "runMain graft.tools.DebugTiming q3_join_broadcast q4_semi_join"
  */
object DebugTiming {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(Some("local[32]"))
    val names = if (args.nonEmpty) args.toSeq else graft.Bench.headline
    for (name <- names; fn <- graft.SparkEntry.queries.get(name)) {
      try {
        val Seq(cold, warm) = graft.Bench.timeQuery(spark, sfDir, fn, 2)
        println(f"[timing] $name%-22s cold=$cold%7.2fs warm=$warm%7.2fs")
        if (sys.env.contains("GRAFT_EXPLAIN")) fn(spark, sfDir).explain("formatted")
      } catch { case NonFatal(e) => println(s"[timing] $name failed: $e") }
    }
    spark.stop()
  }
}
