package graft.spark

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.kernel.Vendor

/** Executable contract for the [[TableIO]] seam (VERDICT r02 next-round #8):
  * an in-memory fake implementing ICEBERG semantics —
  * `writeTo(t).overwritePartitions()` (replace exactly the partitions present
  * in the incoming data, keep the rest) and `append()` (snapshot-style
  * append-only log) — run under the real [[ExtractJob]], including the
  * resume path. Passing here is what makes "a real Iceberg catalog is a
  * drop-in" an executable claim rather than a comment.
  */
class TableIOContractSpec extends SparkTestBase {

  /** In-memory catalog table pair with Iceberg-shaped commit semantics. */
  final class FakeCatalogTableIO extends TableIO {
    private val docParts = mutable.Map.empty[Long, Seq[Row]] // partition → rows
    private var docSchema: StructType = _
    private val lineageRows = mutable.ArrayBuffer.empty[Row]
    private var lineageSchema: StructType = _
    /** partitions replaced by each writeDocs commit, in order */
    val commits = mutable.ArrayBuffer.empty[Set[Long]]

    override def writeDocs(docs: DataFrame): Unit = {
      val rows = docs.collect().toSeq
      docSchema = docs.schema
      val bIdx = docSchema.fieldIndex("bucket")
      val byBucket = rows.groupBy(_.getLong(bIdx))
      // overwritePartitions: replace exactly the incoming partitions
      byBucket.foreach { case (b, rs) => docParts(b) = rs }
      commits += byBucket.keySet.toSet
    }

    override def appendLineage(lineage: DataFrame): Unit = {
      lineageSchema = lineage.schema
      lineageRows ++= lineage.collect()
    }

    override def readDocs(spark: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(docParts.values.flatten.toSeq.asJava, docSchema)
    }

    override def lineageExists(spark: SparkSession): Boolean = lineageRows.nonEmpty

    override def readLineage(spark: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(lineageRows.toSeq.asJava, lineageSchema)
    }

    def docCount: Int = docParts.values.map(_.size).sum
    def partitions: Set[Long] = docParts.keySet.toSet
    /** Simulate a partial commit: drop the lineage rows (and only those) for
      * the given buckets, as if the job died before their lineage append. */
    def dropLineageFor(buckets: Set[Long]): Unit = {
      val bIdx = lineageSchema.fieldIndex("bucket")
      val kept = lineageRows.filterNot(r => buckets(r.getAs[Number](bIdx).longValue))
      lineageRows.clear(); lineageRows ++= kept
    }
    def lineageBuckets: Set[Long] = {
      val bIdx = lineageSchema.fieldIndex("bucket")
      lineageRows.map(_.getAs[Number](bIdx).longValue).toSet
    }
  }

  private val NDocs = 400L
  private val NBuckets = 16

  private def freshRun(io: FakeCatalogTableIO, runId: String,
                       resume: Boolean = false): ExtractJob.Metrics =
    ExtractJob.run(spark, ExtractPipeline.pages(spark, NDocs).toDF(), io, runId,
      nBuckets = NBuckets, numPartitions = 8, resume = resume,
      templates = Vendor.builtinTemplates)

  test("fresh run: every doc lands exactly once, lineage covers the data") {
    val io = new FakeCatalogTableIO
    val m = freshRun(io, "run-1")
    assert(m.docs == NDocs && io.docCount == NDocs)
    assert(io.lineageBuckets == io.partitions, "lineage must mirror committed partitions")
    assert(io.commits.length == 1)
  }

  test("non-resume rerun into a committed table is refused") {
    val io = new FakeCatalogTableIO
    freshRun(io, "run-1")
    intercept[IllegalStateException] { freshRun(io, "run-2") }
  }

  test("resume over a complete table recomputes nothing") {
    val io = new FakeCatalogTableIO
    freshRun(io, "run-1")
    val m2 = freshRun(io, "run-2", resume = true)
    assert(m2.docs == 0, "fully-committed table must yield an empty resume")
    assert(io.docCount == NDocs, "resume must not duplicate docs")
    // nothing pending: the resume makes no docs commit at all
    assert(io.commits.length == 1, io.commits)
  }

  test("resume after a partial commit replays exactly the missing partitions") {
    val reference = new FakeCatalogTableIO
    freshRun(reference, "ref")
    val want = reference.readDocs(spark).drop("bucket")
      .collect().map(_.toString).sorted

    val io = new FakeCatalogTableIO
    freshRun(io, "run-1")
    // simulate dying before 5 buckets' lineage committed (their data rows may
    // or may not exist — Iceberg overwritePartitions makes the replay
    // idempotent either way; here the data exists, the worst case for dup)
    val lost = io.lineageBuckets.take(5)
    io.dropLineageFor(lost)
    val m2 = freshRun(io, "run-2", resume = true)
    assert(m2.docs > 0)
    // the resume commit replaced exactly the lost partitions (empty input
    // buckets may ride along as no-ops, but no COMMITTED partition recomputes)
    val replayed = io.commits(1)
    assert(lost.subsetOf(replayed), s"lost=$lost replayed=$replayed")
    assert(replayed.intersect(io.lineageBuckets -- lost -- replayed).isEmpty)
    // exactly-once: final table equals a single clean run, byte for byte
    val got = io.readDocs(spark).drop("bucket").collect().map(_.toString).sorted
    assert(got.sameElements(want), "resumed table diverged from a clean run")
    assert(io.docCount == NDocs)
  }

  test("lineage equals the committed table; metrics equal the lineage") {
    import LineageChecks._
    val io = new FakeCatalogTableIO
    val m = ExtractJob.run(spark, pagesWithEdgeRows(spark, NDocs), io, "edge",
      nBuckets = NBuckets, numPartitions = 8, resume = false,
      templates = Vendor.builtinTemplates)
    val table = io.readDocs(spark)
    // the three edge rows committed with the outcomes they stand for
    def failureOf(url: String) =
      table.filter(org.apache.spark.sql.functions.col("url") === url)
        .select("failure", "nItems").head()
    assert(failureOf(EmptyUrl).getString(0) == "empty_payload")
    assert(failureOf(BlankUrl).getString(0) == "" && failureOf(BlankUrl).getInt(1) == 0)
    assert(table.filter("url IS NULL AND nBytes IS NULL").count() == 1)

    val lineage = lineageCounts(io.readLineage(spark), "edge")
    assert(lineage == tableCounts(table))
    assert(totals(m) == totals(lineage))
    assert(m.docs == NDocs + 3 && m.failedDocs >= 1 && m.emptyDocs >= 1, m)
  }

  test("a TableIO that runs no action over the docs fails clearly, not by hanging") {
    val fake = new FakeCatalogTableIO
    val lazyIO = new TableIO { // accepts the docs, never writes them
      override def writeDocs(docs: DataFrame): Unit = ()
      override def appendLineage(l: DataFrame): Unit = fake.appendLineage(l)
      override def readDocs(s: SparkSession): DataFrame = fake.readDocs(s)
      override def lineageExists(s: SparkSession): Boolean = fake.lineageExists(s)
      override def readLineage(s: SparkSession): DataFrame = fake.readLineage(s)
    }
    val e = intercept[IllegalStateException] {
      ExtractJob.run(spark, ExtractPipeline.pages(spark, 20).toDF(), lazyIO, "lazy",
        nBuckets = NBuckets, numPartitions = 8, resume = false,
        templates = Vendor.builtinTemplates)
    }
    assert(e.getMessage.contains("writeDocs must run at least one successful action"),
      e.getMessage)
    assert(!fake.lineageExists(spark), "no lineage may commit without its docs")
  }
}
