package graft.spark

import scala.jdk.CollectionConverters._
import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.kernel._

/** The production job: scan → pre-filter → salted repartition → kernel map →
  * write(docs + per-bucket lineage), resumable.
  *
  * Scale design (the north rule's explicit obligations):
  *
  *  - '''Partitioning/skew''': documents vary ~100× in size (one giant per
  *    ~1000 docs in the corpus, mirroring the 2.8MB DRISCOLL pdf amid 110KB
  *    pages). AQE balances shuffle sizes, not map CPU, so the job explicitly
  *    repartitions on a composite key `(bucket, salt)` where
  *    `salt = xxhash64(url) % saltsPerBucket`: docs spread uniformly across
  *    `numPartitions ≈ 4×cores` small tasks, while co-grouping each output
  *    bucket into few tasks (bounding small-file count: ≤ saltsPerBucket
  *    files per bucket). Spark hands tasks out in partition order, not
  *    largest first, so the giant-doc tail is bounded only by the tasks being
  *    many, small and evenly salted: a giant holds up one small task, and
  *    the other cores drain the rest meanwhile.
  *
  *  - '''Exactly-once resumability''': output parquet is partitioned by
  *    `bucket = xxhash64(url) pmod nBuckets` (deterministic, input-only).
  *    Lineage rows (runId, bucket, docs, bytes, failures, emptyDocs, status)
  *    are appended ONLY after the data write commits;
  *    `partitionOverwriteMode=dynamic` means a re-run replaces exactly the
  *    buckets it recomputes. Every bucket a run computes gets a lineage row,
  *    a zero-count one where the input has no docs. Restart = anti-join
  *    input buckets against committed lineage — no dup, no loss, verified by
  *    the kill/rerun spec. A resume takes the input of the run it continues:
  *    a bucket committed empty stays empty.
  *
  *  - '''Metrics''': the per-bucket lineage counts (docs, bytes, failures,
  *    empty docs) are rolled up DURING the docs write, by `Dataset.observe`
  *    of a [[BucketRollup]] aggregate — no second pass over the written
  *    table. Only the first action over the docs that SUCCEEDS reports, so a
  *    doc is counted iff the write that committed it finished; the observed
  *    aggregate sits in the write's result stage, where Spark merges each
  *    partition's accumulator once. The job's `Metrics` are the sums of the
  *    same ≤ nBuckets lineage rows it appends. The counts reach the driver
  *    with the action's end event on Spark's shared listener queue; the job
  *    drains the bus after the write, so a late event is waited for, but an
  *    event the queue drops on overflow
  *    (`spark.scheduler.listenerbus.eventqueue.shared.capacity`, default
  *    10 000) fails the run after its docs committed, and a resume redoes
  *    the uncounted buckets.
  *
  * At 10^12 docs this layout holds: nBuckets scales to O(10^5) (lineage stays
  * tiny), numPartitions to O(cores×4); nothing here collects data to the
  * driver except the bucket-id set and the per-bucket lineage counts (both
  * bounded by nBuckets).
  */
object ExtractJob {

  final case class Metrics(docs: Long, bytes: Long, okDocs: Long, failedDocs: Long,
                           emptyDocs: Long, wallSec: Double, docsPerSec: Double,
                           mbPerSec: Double)

  /** The committed lineage table's columns, in order (`bucket` is an int:
    * the type partition discovery gives the docs table's bucket directories,
    * which is what the lineage was first rolled up from). */
  private val LineageSchema: StructType = StructType(Seq(
    StructField("runId", StringType, nullable = false),
    StructField("bucket", IntegerType),
    StructField("docs", LongType, nullable = false),
    StructField("bytes", LongType),
    StructField("failures", LongType),
    StructField("emptyDocs", LongType),
    StructField("status", StringType, nullable = false)))

  /** How long, after `writeDocs` returns, the job waits for the listener bus
    * to deliver the events of the actions it ran. */
  private val BusDrainTimeoutMs = 10L * 60 * 1000

  /** The metrics observed under `name` by the first action that SUCCEEDS.
    * Spark 4.1's [[org.apache.spark.sql.Observation]] also completes from a
    * FAILED action, with the partial counts of the tasks that finished
    * before it — counts of rows that never committed — so the job listens
    * for the success event itself. */
  private final class FirstSuccess(name: String) extends QueryExecutionListener {
    @volatile private var observed: Option[Row] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (observed.isEmpty) observed = qe.observedMetrics.get(name)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** The observed row, once every action run so far has been reported: an
      * action posts its end event before it returns, so after the drain a
      * missing row means no successful action read the docs. */
    def get(spark: SparkSession): Row = {
      GraftListenerBus.drain(spark.sparkContext, BusDrainTimeoutMs)
      observed.getOrElse(throw new IllegalStateException(
        "no lineage counts from the docs write: the TableIO's writeDocs must run at " +
        "least one successful action over all of its docs rows (or the shared " +
        "listener queue dropped its end event; see " +
        "spark.scheduler.listenerbus.eventqueue.shared.capacity)"))
    }
  }

  /** Deterministic checkpoint unit: which output bucket a url belongs to.
    * Input-only function ⇒ stable across runs and cluster sizes. */
  def withBucket(pages: DataFrame, nBuckets: Int): DataFrame =
    pages.withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets.toLong)))

  /** Salted repartition: uniform CPU spread + bounded files per bucket. */
  def saltedRepartition(df: DataFrame, numPartitions: Int, nBuckets: Int): DataFrame = {
    val saltsPerBucket = math.max(1, numPartitions / nBuckets)
    df.repartition(numPartitions, col("bucket"),
      pmod(xxhash64(col("url"), lit("salt")), lit(saltsPerBucket.toLong)))
  }

  def run(spark: SparkSession,
          pages: DataFrame,
          outDir: String,
          runId: String,
          nBuckets: Int = 64,
          numPartitions: Int = 0,
          resume: Boolean = false,
          templates: Map[String, Template] = Vendor.builtinTemplates): Metrics =
    run(spark, pages, new ParquetTableIO(outDir), runId, nBuckets,
      numPartitions, resume, templates)

  /** As above against any [[TableIO]] backend (Iceberg drop-in point). */
  def run(spark: SparkSession,
          pages: DataFrame,
          io: TableIO,
          runId: String,
          nBuckets: Int,
          numPartitions: Int,
          resume: Boolean,
          templates: Map[String, Template]): Metrics = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    import spark.implicits._

    val t0 = System.nanoTime()
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism * 4

    // A non-resume run must start from an uncommitted output: otherwise stale
    // buckets from a previous run (which this run's dynamic overwrite never
    // touches) would be rolled into this run's lineage as if freshly computed,
    // inflating metrics and poisoning future resumes. Resume is the supported
    // way to continue into an existing outDir.
    if (!resume && io.lineageExists(spark))
      throw new IllegalStateException(
        "output already has committed lineage; pass resume=true to continue " +
        "into it, or point the job at a fresh output location")

    // resume: drop buckets already committed (bucket-id set is ≤ nBuckets —
    // safe to collect at any data scale). The pending set is derived from the
    // tiny lineage table ONLY — never from a scan of the input (at 10^12 docs
    // an extra input pass just to enumerate buckets would double the job).
    val done: Set[Long] =
      if (resume && io.lineageExists(spark))
        io.readLineage(spark)
          .filter($"status" === "ok")
          .select("bucket").distinct().as[Long].collect().toSet
      else Set.empty
    // nothing pending: no input pass, no shuffle and no docs or lineage commit
    if ((0L until nBuckets.toLong).forall(done))
      return Metrics(0, 0, 0, 0, 0, (System.nanoTime() - t0) / 1e9, 0.0, 0.0)
    val bucketed = withBucket(pages, nBuckets)
    val pending =
      if (done.isEmpty) bucketed
      else bucketed.filter(!$"bucket".isin(done.toSeq: _*))

    val prepared = saltedRepartition(pending, parts, nBuckets)

    // kernel map through the Catalyst expression surface, carrying the bucket
    // through for the partitioned write. The expression converts each
    // ExtractedDoc to an InternalRow by hand (graft.functions.DocRow) — the
    // generic product encoder was measured at ~10× the kernel's own CPU, so
    // this one line is the difference between an encode-bound and a
    // kernel-bound job.
    val extracted: DataFrame = prepared
      .select(
        graft.functions.ExtractDocExpr
          .extractDoc($"url", $"html", $"text", $"lang", templates).as("doc"),
        $"bucket")
      .select($"doc.*", $"bucket")

    // idempotent per-bucket overwrite: a recomputed bucket fully replaces its
    // partition; untouched buckets stay. The lineage counts ride along as an
    // aggregate observed on this same write (a unique name per run), taken
    // from the first action over the docs that succeeds.
    val observedAs = s"graft_lineage_${runId}_${java.util.UUID.randomUUID()}"
    val observer = new FirstSuccess(observedAs)
    spark.listenerManager.register(observer)
    val rollup =
      try {
        io.writeDocs(extracted.observe(observedAs, BucketRollup.column.as("rollup")))
        BucketRollup.decode(observer.get(spark))
      } finally spark.listenerManager.unregister(observer)

    // lineage of the rows that committed, appended only after the docs commit
    // as one small driver-side frame (≤ nBuckets rows) in one partition, so a
    // run adds one lineage file; the metrics are the sums of the same counts
    // (a null `bytes` adds 0). A pending bucket the input has no docs for
    // commits as a zero-count row, so a resume over the same input finds
    // nothing pending.
    val noDocs = BucketRollup.Counts(0, 0, 0, 0, 0)
    val lineage: Seq[Row] = (0L until nBuckets.toLong).filterNot(done).map { bucket =>
      val c = rollup.getOrElse(bucket, noDocs)
      Row(runId, bucket.toInt, c.docs,
        if (c.bytesSeen > 0) c.bytes else null, c.failures, c.emptyDocs, "ok")
    }
    io.appendLineage(spark.createDataFrame(lineage.asJava, LineageSchema).coalesce(1))

    val counts = rollup.values
    val (d, b, f, e) = (counts.map(_.docs).sum, counts.map(_.bytes).sum,
      counts.map(_.failures).sum, counts.map(_.emptyDocs).sum)
    val wall = (System.nanoTime() - t0) / 1e9
    Metrics(d, b, d - f, f, e, wall, d / wall, b / 1e6 / wall)
  }
}
