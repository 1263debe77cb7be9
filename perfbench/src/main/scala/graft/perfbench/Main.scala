package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.CpuPin
import graft.spark.ExtractJob

/** The benchmark's JVM side. One run = one workload at one seed:
  *
  *  1. set-up: materialize the workload's input table and its first quarter,
  *     build the reference output and the composition census, pre-commit
  *     half the buckets for `crawl_resume`, then warm the job up;
  *  2. untraced (`--trace 0`): timed `ExtractJob.run` passes at `local[4]`;
  *     traced (`--trace 1`): a single-threaded kernel replay, untraced and
  *     traced `local[4]` passes in turn, then the scaling pair: the same job
  *     on the quarter input at `local[4]` and at `local[1]`, the whole JVM
  *     pinned to one core;
  *  3. every pass's committed output is checked row by row.
  *
  * The last stdout line is the result object; the line before it records
  * the workload's composition and the output checks. */
object Main {
  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        work: String)

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      name <- need("workload")
      base <- Workload.all.find(_.name == name).toRight(s"unknown workload $name")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("trace").flatMap {
        case "0" => Right(false); case "1" => Right(true); case t => Left(s"bad --trace $t")
      }
      work <- need("work")
      docs <- kv.get("docs").map(d => d.toIntOption.filter(_ > 0).toRight(s"bad --docs $d"))
        .getOrElse(Right(base.streamDocs))
    } yield Args(base.copy(streamDocs = docs), seed, secs, trace, work)
  }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err")
      sys.exit(2)
    case Right(args) =>
      val out = new Run(args).execute()
      println(out)
      sys.exit(0)
  }
}

/** Heap occupancy after each GC, from the GC notifications, and GC time. */
final class HeapWatch {
  private val runtime = ManagementFactory.getRuntimeMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  // (GC end, ms since JVM start; heap bytes in use after it)
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  gcs.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(
    (n: javax.management.Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = info.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        events.add((info.getEndTime, used))
      }, null, null))

  def uptimeMs: Long = runtime.getUptime
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ > 0).sum

  /** Highest heap occupancy after a GC, over the GCs that ended since
    * `fromMs` and a full GC run now, which marks the window's end: a window
    * without a GC of its own still reads its live set, never its garbage. */
  def peakMb(fromMs: Long): Double = {
    val mark = uptimeMs
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (!events.asScala.exists(_._1 >= mark) && System.nanoTime() < deadline) Thread.sleep(1)
    events.removeIf(_._1 < fromMs)
    val bytes = events.asScala.map(_._2).maxOption
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    events.clear()
    bytes / 1e6
  }
}

final class Run(a: Main.Args) {
  private val w = a.workload
  private val heap = new HeapWatch
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var passNo = 0
  // committed outputs not yet checked; checked after the last timed pass
  private val unchecked = ArrayBuffer.empty[(Path, Reference)]

  /** The replay covers this many rows from the start of the stream. */
  private val ReplayDocs = 2000
  /** Warm-up: at least `MinWarmPasses` full passes, then more until two in
    * a row agree within `SteadyWithin`, at most `MaxWarmPasses`. */
  private val MinWarmPasses = 2
  private val SteadyWithin = 0.05
  private val MaxWarmPasses = 3
  /** Cores of the warm-up session. With four busy task threads the JIT gets
    * little CPU and throughput keeps climbing for a minute of job time;
    * warming on two leaves the compiler threads the other two. */
  private val WarmCores = 2

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${w.name}-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"perfbench: $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  /** A table the job reads, the output expected from it and, for
    * `crawl_resume`, the pre-committed output every pass starts from. */
  final case class Input(path: String, ref: Reference, precommit: Option[String])

  /** Writes `rows` to `path` and, for `crawl_resume`, commits the lower half
    * of its output buckets into a second directory. */
  private def input(spark: SparkSession, rows: DataFrame, path: String, ref: Reference): Input = {
    rows.write.parquet(path)
    val pre = if (w.resume) Some(s"$path-precommit") else None
    pre.foreach(Workload.precommit(spark, spark.read.parquet(path), _))
    Input(path, ref, pre)
  }

  final case class Pass(docs: Long, wallS: Double, cpuS: Double, heapMb: Double,
                        spark: Map[String, Double]) {
    def rate: Double = docs / wallS
  }

  /** One `ExtractJob.run` into a fresh output (a copy of the pre-committed
    * half for `crawl_resume`), kept for the check. */
  private def pass(spark: SparkSession, in: Input, spans: Option[Spans] = None): Pass = {
    passNo += 1
    val out = s"${a.work}/out-$passNo"
    in.precommit.foreach(p => copyTree(Paths.get(p), Paths.get(out)))
    val pages = spark.read.parquet(in.path)
    val runId = s"pass-$passNo"
    System.gc()
    val tracer = spans.map(s => new PassTracer(spark, s, out, runId))
    val (h0, gc0, cpu0) = (heap.uptimeMs, heap.gcMs, os.getProcessCpuTime)
    val t0 = System.nanoTime()
    val m = tracer match {
      case None => ExtractJob.run(spark, pages, out, runId, nBuckets = Workload.Buckets,
        resume = w.resume)
      case Some(t) => t.run(pages, w.resume)
    }
    val t1 = System.nanoTime()
    val (gc1, cpu1) = (heap.gcMs, os.getProcessCpuTime)
    val sparkMetrics = tracer.map(_.metrics((gc1 - gc0) / 1e3)).getOrElse(Map.empty)
    unchecked += ((Paths.get(out), in.ref))
    Pass(m.docs, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9, heap.peakMb(h0), sparkMetrics)
  }

  /** Checks every output kept so far, four at a time, and deletes them. */
  private def checkAll(): Vector[Check] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try unchecked.toVector.map { case (out, ref) =>
      pool.submit(() => try Check(out.resolve("docs"), ref) finally deleteTree(out))
    }.map(_.get())
    finally pool.shutdown()
  }

  /** Warm-up: one pass over the small input takes the cold-start cost, then
    * passes over the full input until throughput is steady. */
  private def warm(spark: SparkSession, small: Input, full: Input): Unit = {
    pass(spark, small)
    val rates = ArrayBuffer.empty[Double]
    def steady = rates.length >= MinWarmPasses &&
      math.abs(rates.last - rates(rates.length - 2)) <= SteadyWithin * rates.last
    while (!steady && rates.length < MaxWarmPasses) rates += pass(spark, full).rate
    System.err.println(s"perfbench: warm-up rates ${rates.map(r => f"$r%.0f").mkString(" ")}")
  }

  /** Timed passes until `budgetS` seconds of job time are spent; one more
    * pass is started only if it is expected to fit. */
  private def timed(budgetS: Double, minPasses: Int)(next: => Pass): Vector[Pass] = {
    val ps = ArrayBuffer.empty[Pass]
    def spent = ps.map(_.wallS).sum
    while (ps.length < minPasses || spent + spent / ps.length <= budgetS) ps += next
    System.err.println(s"perfbench: timed rates ${ps.map(p => f"${p.rate}%.0f").mkString(" ")}")
    ps.toVector
  }

  def execute(): String = {
    val gen = phase("session")(session(4))
    val rows = Workload.rows(gen, w, a.seed)
    val ref = phase("reference")(Reference.build(rows, a.seed, "data/golden_docs.parquet"))
    val full = phase("input")(input(gen, rows, s"${a.work}/input", ref))
    // the first quarter of the stream: warm-up and scaling input
    val quarter = phase("quarter input")(input(gen,
      rows.filter(Workload.streamIndex < w.streamDocs / 4), s"${a.work}/quarter",
      ref.below(w.streamDocs / 4)))
    gen.stop()
    val warmSession = session(WarmCores)
    phase("warm")(warm(warmSession, quarter, full))
    warmSession.stop()
    val spark = session(4)
    pass(spark, full) // a session's first job runs slow: untimed
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val (metrics, pinOk) =
      if (a.trace) traced(spark, full, quarter)
      else (untraced(spark, full, setupS), true)

    val checks = phase("check")(checkAll())
    val attempted = checks.map(_.inputRows).sum
    val failed = checks.map(c => c.mismatched + c.lostOrDup).sum
    val correct = pinOk && checks.forall(_.ok)
    val record = ref.composition ++ Seq(
      "passes_checked" -> checks.length,
      "text_match_rate" -> Stats.mean(checks.map(_.textMatchRate)),
      "lost_or_dup_docs" -> checks.map(_.lostOrDup).sum,
      "committed_failure_rows" -> checks.map(_.failures).max,
      "committed_empty_rows" -> checks.map(_.empties).max)
    println(Json.obj(Seq("workload" -> w.name, "record" -> Json.Raw(Json.obj(record)))))
    Json.result(correct, attempted, failed, metrics)
  }

  private def untraced(spark: SparkSession, full: Input, setupS: Double): Seq[(String, Double, String)] = {
    val ps = timed(a.seconds, minPasses = 3)(pass(spark, full))
    spark.stop()
    Seq(
      ("docs_per_s", Stats.median(ps.map(_.rate)), "docs/s"),
      ("cpu_ms_per_doc", Stats.median(ps.map(p => p.cpuS * 1e3 / p.docs)), "ms"),
      ("heap_peak_mb", Stats.median(ps.map(_.heapMb)), "MB"),
      ("setup_s", setupS, "s"))
  }

  /** The per-layer run. Returns false as its second value when the JVM could
    * not be pinned to one core, which voids the 1-core level. */
  private def traced(spark: SparkSession, full: Input, quarter: Input)
      : (Seq[(String, Double, String)], Boolean) = {
    val spans = new Spans
    val replay = new KernelReplay(spans)
    phase("replay")(spark.read.parquet(full.path)
      .orderBy(Workload.streamIndex).limit(ReplayDocs)
      .select("url", "html", "text", "lang").toLocalIterator().asScala
      .foreach(r => replay.replay(r.getString(0), r.getAs[Array[Byte]](1), r.getString(2), r.getString(3))))

    // untraced and traced passes in turn, so drift hits both alike
    val plain = ArrayBuffer.empty[Pass]
    val withTrace = ArrayBuffer.empty[Pass]
    timed(a.seconds, minPasses = 4) {
      if (plain.length <= withTrace.length) { plain += pass(spark, full); plain.last }
      else { withTrace += pass(spark, full, Some(spans)); withTrace.last }
    }
    // the scaling pair: the same job on the same (quarter) input at 4 and 1 cores
    val four = timed(0, minPasses = 2)(pass(spark, quarter))
    spark.stop()
    // taskset fails when a thread exits while it walks them: retry
    val pinned = Iterator.range(0, 5).exists { i => if (i > 0) Thread.sleep(200); CpuPin.pin(1) }
    if (!pinned) System.err.println("perfbench: could not pin the JVM to one core")
    val one = try {
      val spark1 = session(1)
      try {
        pass(spark1, quarter) // the first job on one core runs slow: untimed
        timed(0, minPasses = 2)(pass(spark1, quarter))
      } finally spark1.stop()
    } finally if (pinned) CpuPin.unpin()
    spans.write(Paths.get(a.work).getParent.getParent.resolve(s"traces/${w.name}-seed${a.seed}.tsv"))

    val sparkM = withTrace.flatMap(_.spark.keys).distinct.map { k =>
      k -> Stats.median(withTrace.map(_.spark.getOrElse(k, 0.0)).toSeq)
    }.toMap
    val jobS = Stats.median(withTrace.map(_.wallS).toSeq)
    val docs = Stats.median(withTrace.map(_.docs.toDouble).toSeq)
    val rate1 = Stats.median(one.map(_.rate))
    val derived = Map(
      "spark.job_s" -> jobS,
      "spark.tracing_overhead" -> (jobS / Stats.median(plain.map(_.wallS).toSeq) - 1),
      "spark.overhead_ms_per_doc" ->
        (4 * jobS * 1e3 / docs - replay.extractMsMean - replay.docrowMsMean),
      "spark.docs_per_s_1core" -> rate1,
      "spark.scaling_eff" -> Stats.median(four.map(_.rate)) / (4 * rate1))
    val all = replay.metrics.toMap ++ sparkM ++ derived
    (PerLayer.Names.map { case (n, unit) => (n, all(n), unit) }, pinned)
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

object PerLayer {
  val Names: Seq[(String, String)] =
    Seq("html", "native", "scanned").flatMap(r => Seq(
      s"kernel.extract.$r.ms_p50" -> "ms", s"kernel.extract.$r.ms_p99" -> "ms",
      s"kernel.extract.$r.alloc_kb" -> "KB")) ++ Seq(
      "kernel.pdf.structure.ms_mean" -> "ms", "kernel.pdf.interpret.ms_mean" -> "ms",
      "kernel.pdf.parse.alloc_kb" -> "KB",
      "kernel.pdf.parse.enc.ms_mean" -> "ms", "kernel.pdf.parse.plain.ms_mean" -> "ms",
      "kernel.html.parse.ms_mean" -> "ms", "kernel.html.extract.ms_mean" -> "ms",
      "kernel.html.alloc_kb" -> "KB",
      "kernel.scanned_conf.ms_mean" -> "ms", "kernel.vendor.ms_mean" -> "ms",
      "kernel.slice.ms_mean" -> "ms", "kernel.quality.ms_mean" -> "ms",
      "kernel.vendor.template_hit_ratio" -> "ratio") ++
    Seq("html", "native", "scanned").map(r => s"kernel.coverage.$r" -> "ratio") ++
    Seq("html", "native", "scanned").map(r => s"kernel.docs.$r" -> "count") ++ Seq(
      "functions.docrow.ms_mean" -> "ms", "functions.docrow.alloc_kb" -> "KB",
      "spark.job_s" -> "s", "spark.tracing_overhead" -> "ratio",
      "spark.scan_stage.run_s" -> "s", "spark.extract_stage.run_s" -> "s",
      "spark.extract_stage.cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle.write_mb" -> "MB", "spark.shuffle.write_s" -> "s",
      "spark.shuffle.fetch_wait_s" -> "s", "spark.output_mb" -> "MB",
      "spark.extract_stage.task_ms_p50" -> "ms", "spark.extract_stage.task_skew" -> "ratio",
      "spark.tasks_failed" -> "count", "spark.overhead_ms_per_doc" -> "ms",
      "spark.docs_per_s_1core" -> "docs/s", "spark.scaling_eff" -> "ratio",
      "tableio.write_docs_s" -> "s", "tableio.lineage_s" -> "s",
      "tableio.read_lineage_s" -> "s")
}

/** Just enough JSON for the two output lines. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a finite number")
    d.toString
  }

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Raw(obj(metrics.map { case (n, v, u) =>
        n -> Raw(obj(Seq("value" -> v, "unit" -> u))) }))))
}
