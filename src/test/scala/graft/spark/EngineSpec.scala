package graft.spark

import org.apache.spark.SparkConf

class EngineSpec extends SparkTestBase {

  test("the shared session carries the engine settings") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.sql("SELECT extract_doc('u', CAST('<p>hi</p>' AS BINARY), '', 'en').route")
      .head().getString(0) == "html")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(spark.sparkContext.defaultParallelism == 4)
    // Spark copies spark.buffer.size into the Hadoop conf the parquet codec reads
    assert(spark.sparkContext.hadoopConfiguration.get("io.file.buffer.size") == "8192")
  }

  test("each master form gives its total core count") {
    val cpus = Runtime.getRuntime.availableProcessors()
    Seq("local" -> Some(1), "local[3]" -> Some(3), "local[3,2]" -> Some(3),
      "local[*]" -> Some(cpus), "local[*,2]" -> Some(cpus),
      "local-cluster[2,3,1024]" -> Some(6), "local-cluster[2, 3, 1024]" -> Some(6),
      "spark://host:7077" -> None, "yarn" -> None)
      .foreach { case (master, cores) => assert(Engine.masterCores(master) == cores, master) }
  }

  test("the engine's settings are defaults: a preset value wins") {
    val filled = Engine.withDefaults(new SparkConf(false).setMaster("local[2]"))
    assert(filled.get("spark.app.name") == "graft")
    assert(filled.get("spark.sql.session.timeZone") == "UTC")
    assert(filled.get("spark.ui.enabled") == "false")
    assert(filled.get("spark.sql.shuffle.partitions") == "2")
    assert(filled.get("spark.buffer.size") == "8192")
    val preset = Engine.withDefaults(new SparkConf(false).setMaster("local[2]")
      .set("spark.ui.enabled", "true").set("spark.sql.shuffle.partitions", "7")
      .set("spark.buffer.size", "65536"))
    assert(preset.get("spark.ui.enabled") == "true")
    assert(preset.get("spark.sql.shuffle.partitions") == "7")
    assert(preset.get("spark.buffer.size") == "65536")
    assert(!Engine.withDefaults(new SparkConf(false).setMaster("yarn"))
      .contains("spark.sql.shuffle.partitions"))
  }
}
