package graft.spark

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions

/** The one place the engine's `SparkSession` is built: spark-submit's
  * `ExtractMain`, `Verify`, `Bench`, the tools and the tests all call
  * [[session]], so they run one engine configuration.
  *
  * Every engine setting is a default: it is applied only where the
  * deployment (spark-submit `--conf`, `spark-defaults.conf`, `-Dspark.*`)
  * sets nothing, so an explicit setting always wins — `--conf
  * spark.ui.enabled=true` turns the UI back on. The defaults are the app
  * name `graft`, the UTC session time zone, no UI, 8 KiB stream buffers
  * (`spark.buffer.size`), and as many shuffle partitions as the master has
  * cores (Spark's default where the master does not say). The kernel's SQL
  * functions ([[GraftExtensions]]) are added to any extensions the
  * deployment lists, and the log level is WARN.
  *
  * The buffer size is an engine setting because of the docs write. Spark
  * copies `spark.buffer.size` into the Hadoop conf's `io.file.buffer.size`
  * (64 KiB by default), and parquet's Snappy codec allocates a new output
  * buffer of that size for every page it compresses: at 64 KiB that was about
  * 15% of a `pdf_only` pass's allocation. Parquet caches each codec JVM-wide
  * with the `Configuration` it was first built from, so a per-write option
  * cannot size the buffer; only the session's own setting can.
  */
object Engine {

  private val LocalN = """local\[(\*|\d+)(?:,\d+)?\]""".r
  private val LocalCluster = """local-cluster\[(\d+),(\d+),\d+\]""".r

  /** Total cores of a master string: `local` → 1, `local[n]` and
    * `local[n,f]` → n, `local[*]` → the available processors,
    * `local-cluster[n,c,m]` → n·c; `None` for any other master. */
  private[spark] def masterCores(master: String): Option[Int] = master.replace(" ", "") match {
    case "local" => Some(1)
    case LocalN("*") => Some(Runtime.getRuntime.availableProcessors())
    case LocalN(n) => Some(n.toInt)
    case LocalCluster(n, c) => Some(n.toInt * c.toInt)
    case _ => None
  }

  /** `conf` with each engine default set where `conf` has no value. */
  private[spark] def withDefaults(conf: SparkConf): SparkConf = {
    val partitions = conf.getOption("spark.master").flatMap(masterCores)
      .map("spark.sql.shuffle.partitions" -> _.toString)
    (Seq("spark.app.name" -> "graft", "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false", "spark.buffer.size" -> "8192") ++ partitions)
      .foreach { case (k, v) => conf.setIfMissing(k, v) }
    conf
  }

  /** The engine's session at `master` (`None`: the deployment's
    * `spark.master`, as spark-submit sets it), with the caller's own `conf`
    * on top. */
  def session(master: Option[String], conf: (String, String)*): SparkSession = {
    val c = new SparkConf().setAll(conf)
    master.foreach(c.setMaster)
    val s = SparkSession.builder().config(withDefaults(c))
      .withExtensions(new GraftExtensions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
