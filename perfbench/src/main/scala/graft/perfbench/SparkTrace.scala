package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.spark.{ExtractJob, ParquetTableIO, TableIO}

/** A [[TableIO]] that records a span around every call into `inner`. It is
  * handed to the public `ExtractJob.run(spark, pages, io, ...)` overload. */
final class TimingTableIO(inner: TableIO, spans: Spans, parent: Int, doc: String)
    extends TableIO {
  // (name, wall-clock start ms, wall-clock end ms) of each call, to place
  // listener events that carry wall-clock times
  val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def timed[A](name: String)(f: => A): A = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(name, parent, doc, t0, System.nanoTime())
      calls += ((name, w0, System.currentTimeMillis()))
    }
  }

  override def writeDocs(docs: DataFrame): Unit = timed("tableio.write_docs")(inner.writeDocs(docs))
  override def appendLineage(lineage: DataFrame): Unit =
    timed("tableio.append_lineage")(inner.appendLineage(lineage))
  override def readDocs(spark: SparkSession): DataFrame = timed("tableio.read_docs")(inner.readDocs(spark))
  override def lineageExists(spark: SparkSession): Boolean =
    timed("tableio.lineage_exists")(inner.lineageExists(spark))
  override def readLineage(spark: SparkSession): DataFrame =
    timed("tableio.read_lineage")(inner.readLineage(spark))
}

/** Task and stage metrics of the jobs run while it is attached. */
final class StageListener extends SparkListener {
  final case class Task(stageId: Int, runMs: Long, cpuNs: Long, shuffleWriteBytes: Long,
                        shuffleWriteNs: Long, fetchWaitMs: Long, outputBytes: Long,
                        failed: Boolean)
  final case class Stage(id: Int, submittedMs: Long, completedMs: Long)

  private val tasks = scala.collection.mutable.ArrayBuffer.empty[Task]
  private val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
  private val endedJobs = scala.collection.mutable.Set.empty[Int]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.fetchWaitTime, m.outputMetrics.bytesWritten, e.taskInfo.failed)
    else tasks += Task(e.stageId, 0, 0, 0, 0, 0, 0, failed = true)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(endedJobs += e.jobId)

  /** Returns once every event posted before this call has been delivered:
    * the listener bus delivers in order, so the end of a marker job run now
    * arrives after everything that came before it. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val group = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(group, "listener drain marker")
    val before = sc.statusTracker.getJobIdsForGroup(group).toSet
    sc.parallelize(Seq(1), 1).count()
    val marker = sc.statusTracker.getJobIdsForGroup(group).toSet.diff(before)
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!synchronized(marker.subsetOf(endedJobs)) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def snapshot: (Vector[Task], Vector[Stage]) = synchronized((tasks.toVector, stages.toVector))
}

/** Spans of one traced `ExtractJob.run` and the stage metrics around it. */
final class PassTracer(spark: SparkSession, spans: Spans, out: String, runId: String) {
  private val listener = new StageListener
  private val root = spans.open("spark.job", -1, runId)
  private val io = new TimingTableIO(new ParquetTableIO(out), spans, root, runId)
  private var window = (0L, 0L)

  def run(pages: DataFrame, resume: Boolean): ExtractJob.Metrics = {
    spark.sparkContext.addSparkListener(listener)
    val w0 = System.currentTimeMillis()
    try ExtractJob.run(spark, pages, io, runId, Workload.Buckets, 0, resume,
      graft.kernel.Vendor.builtinTemplates)
    finally {
      window = (w0, System.currentTimeMillis())
      spans.close(root)
      listener.drain(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  def metrics(gcS: Double): Map[String, Double] = {
    val (tasks, stages) = listener.snapshot
    def within(s: listener.Stage, from: Long, to: Long) = s.submittedMs >= from && s.completedMs <= to
    val inJob = stages.filter(within(_, window._1, window._2)).map(_.id).toSet
    val (ws, we) = io.calls.find(_._1 == "tableio.write_docs").map(c => (c._2, c._3)).getOrElse((0L, 0L))
    val inWrite = stages.filter(within(_, ws, we))
    val jobTasks = tasks.filter(t => inJob(t.stageId))
    def tasksOf(ids: Set[Int]) = jobTasks.filter(t => ids(t.stageId))
    val scanIds = inWrite.map(_.id).filter(id => tasksOf(Set(id)).exists(_.shuffleWriteBytes > 0)).toSet
    val extractIds = inWrite.map(_.id).filter(id => tasksOf(Set(id)).exists(_.outputBytes > 0)).toSet
    def runS(ids: Set[Int]) = stages.filter(s => ids(s.id)).map(s => (s.completedMs - s.submittedMs) / 1e3).sum
    val scan = tasksOf(scanIds)
    val extract = tasksOf(extractIds)
    val taskMs = extract.map(_.runMs.toDouble)
    val p50 = Stats.median(taskMs)
    def callS(names: String*) = io.calls.filter(c => names.contains(c._1)).map(c => (c._3 - c._2) / 1e3).sum
    Map(
      "spark.scan_stage.run_s" -> runS(scanIds),
      "spark.extract_stage.run_s" -> runS(extractIds),
      "spark.extract_stage.cpu_s" -> extract.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> gcS,
      "spark.shuffle.write_mb" -> scan.map(_.shuffleWriteBytes).sum / 1e6,
      "spark.shuffle.write_s" -> scan.map(_.shuffleWriteNs).sum / 1e9,
      "spark.shuffle.fetch_wait_s" -> extract.map(_.fetchWaitMs).sum / 1e3,
      "spark.output_mb" -> jobTasks.map(_.outputBytes).sum / 1e6,
      "spark.extract_stage.task_ms_p50" -> p50,
      "spark.extract_stage.task_skew" -> (if (p50 > 0) taskMs.max / p50 else 0.0),
      "spark.tasks_failed" -> jobTasks.count(_.failed).toDouble,
      "tableio.write_docs_s" -> callS("tableio.write_docs"),
      "tableio.lineage_s" -> callS("tableio.append_lineage"),
      "tableio.read_lineage_s" -> callS("tableio.read_lineage", "tableio.lineage_exists"))
  }
}
