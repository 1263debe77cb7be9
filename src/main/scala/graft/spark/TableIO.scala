package graft.spark

import org.apache.spark.sql.{AnalysisException, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}

/** Storage abstraction for the extraction job's two tables (docs + lineage).
  *
  * The north rule targets Iceberg tables; no Iceberg runtime jar ships in
  * `/opt/spark/jars` (verified — SURVEY.md §1.3), so the local backend is
  * Parquet laid out Iceberg-shaped: bucket-partitioned data directories with
  * idempotent per-partition replacement, plus an append-only lineage table
  * playing the role of snapshot metadata. A real Iceberg catalog is a
  * drop-in: implement this trait with `writeTo(table).overwritePartitions()`
  * / `append()` and the job logic above it is unchanged.
  */
trait TableIO {
  /** Idempotent bucket-partitioned write: recomputed buckets fully replace
    * their partition; untouched buckets stay.
    *
    * Contract: it runs at least one action over `docs`, and every action
    * over `docs` it runs that succeeds reads ALL of its rows (no filter,
    * limit or sample on top). The job takes the lineage counts from the
    * first such action; a write that runs none fails the job. The counts are
    * exactly-once because `docs` is read in the write's result stage, where
    * Spark applies each partition's accumulator update once: a backend that
    * shuffles `docs` before writing (e.g. an Iceberg hash write
    * distribution) moves them into a map stage, where a retried stage can
    * count a partition twice. */
  def writeDocs(docs: DataFrame): Unit
  /** Append-only commit log (written only AFTER the docs commit). */
  def appendLineage(lineage: DataFrame): Unit
  def readDocs(spark: SparkSession): DataFrame
  def lineageExists(spark: SparkSession): Boolean
  def readLineage(spark: SparkSession): DataFrame
}

/** The bucket-partitioned writer every sink below uses: idempotent
  * per-bucket replacement (dynamic partition overwrite) through
  * [[NioLocalFileSystem]]. */
private object BucketTables {
  def overwriteBuckets(df: DataFrame): DataFrameWriter[Row] =
    df.write.options(NioLocalFileSystem.WriteOptions)
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
}

/** Parquet-backed TableIO (the sandbox backend). Its writes resolve `file:`
  * paths to [[NioLocalFileSystem]], which sets file modes without a `chmod`
  * child process. */
final class ParquetTableIO(outDir: String) extends TableIO {
  val docsPath = s"$outDir/docs"
  val lineagePath = s"$outDir/lineage"

  override def writeDocs(docs: DataFrame): Unit =
    BucketTables.overwriteBuckets(docs).parquet(docsPath)

  override def appendLineage(lineage: DataFrame): Unit =
    lineage.write.options(NioLocalFileSystem.WriteOptions)
      .mode(SaveMode.Append).parquet(lineagePath)

  override def readDocs(spark: SparkSession): DataFrame =
    spark.read.parquet(docsPath)

  override def lineageExists(spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(lineagePath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def readLineage(spark: SparkSession): DataFrame =
    spark.read.parquet(lineagePath)
}

/** S10 — the reference's CSV fallback sink (`table_slicer.py:155-162`: the
  * Excel save throws → the same frame degrades to a headerless CSV instead
  * of losing the batch), re-expressed at table granularity: when the primary
  * table commit fails, the docs land as a bucket-partitioned CSV table
  * carrying the FLAT projection plus `grid_csv` — each document's cell grid
  * rendered by the pandas-parity renderer ([[graft.functions.CsvGrid]] /
  * [[graft.kernel.Csv]]), i.e. exactly the artifact the reference's fallback
  * writes per document. Nested columns (spans, quality struct) are the
  * "Excel formatting" analog: dropped by the degraded format, by design.
  *
  * The fallback commit is durable (`_SUCCESS`-gated, like the primary):
  * once a CSV table committed, `readDocs` serves the UNION of the primary
  * table (projected to the same degraded flat shape) and the CSV table —
  * a resumed job may have committed some buckets to each backend across
  * runs, and no committed bucket may vanish from reads. A later inspection
  * read works unchanged. Lineage stays on the primary backend (the reference
  * falls back for the table artifact only, not its bookkeeping).
  */
final class CsvFallbackTableIO(primary: TableIO, csvPath: String) extends TableIO {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  private val flatSchema = StructType(Seq(
    StructField("url", StringType), StructField("route", StringType),
    StructField("vendor", StringType), StructField("failure", StringType),
    StructField("nItems", IntegerType), StructField("nPages", IntegerType),
    StructField("nBytes", LongType), StructField("grid_csv", StringType)))

  /** The degraded shape: the scalar columns, the cell grid as CSV text and
    * the bucket. */
  private def flat(docs: DataFrame): DataFrame =
    docs.select(col("url"), col("route"), col("vendor"), col("failure"),
      col("nItems"), col("nPages"), col("nBytes"),
      graft.functions.CsvGrid.column(col("cells")).as("grid_csv"),
      col("bucket"))

  // dynamic-partition-overwrite commits don't emit _SUCCESS; the sink writes
  // its own marker AFTER the csv job commits, so readers never see a torn table
  private val marker = "_GRAFT_CSV_COMMIT"

  private def csvCommitted(spark: SparkSession): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$csvPath/$marker")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def writeDocs(docs: DataFrame): Unit =
    try primary.writeDocs(docs)
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"primary table write failed (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); falling back to CSV at $csvPath")
        BucketTables.overwriteBuckets(flat(docs))
          // RFC-4180 doubling (the pandas convention) for the sink's own
          // quoting, so grid_csv's embedded quotes/newlines round-trip;
          // the writer trims field whitespace by default, which would eat
          // grid_csv's trailing newline — disable both trims
          .option("escape", "\"")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(csvPath)
        val p = new org.apache.hadoop.fs.Path(s"$csvPath/$marker")
        p.getFileSystem(NioLocalFileSystem.conf(docs.sparkSession.sparkContext.hadoopConfiguration))
          .create(p, true).close()
    }

  override def readDocs(spark: SparkSession): DataFrame =
    if (!csvCommitted(spark)) primary.readDocs(spark)
    else {
      val csv = spark.read.schema(flatSchema)
        .option("escape", "\"").option("multiLine", "true")
        .csv(csvPath)
        // CSV writes empty strings as empty fields, read back as null
        .na.fill("", Seq("url", "route", "vendor", "failure", "grid_csv"))
        .withColumn("bucket", col("bucket").cast("long"))
      // A RESUMED job may have committed some buckets to the primary in an
      // earlier run and degraded to CSV only later (or vice versa) — serve
      // the union of both tables in the degraded flat projection, not just
      // the CSV side, so no committed bucket ever vanishes from reads.
      // A bucket present in BOTH tables (primary commit in one run, then a
      // non-resume rerun degraded the same bucket to CSV) must be served
      // once: the CSV copy is the later write, so it shadows the primary's.
      // Only a primary table with no data files reads as "nothing committed
      // there": absent, or left empty by a write that failed before its
      // commit. Any other failure (an unreadable part file, say) surfaces,
      // or the buckets the primary committed would silently vanish.
      val fromPrimary =
        try Some(flat(primary.readDocs(spark))
          .join(broadcast(csv.select("bucket").distinct()),
            Seq("bucket"), "left_anti"))
        catch {
          case e: AnalysisException
              if e.getCondition == "PATH_NOT_FOUND" || e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
        }
      fromPrimary.map(_.unionByName(csv)).getOrElse(csv)
    }

  override def appendLineage(lineage: DataFrame): Unit = primary.appendLineage(lineage)
  override def lineageExists(spark: SparkSession): Boolean = primary.lineageExists(spark)
  override def readLineage(spark: SparkSession): DataFrame = primary.readLineage(spark)
}

/** S9 — the reference's ACTUAL per-document sink pairing
  * (`table_slicer.py:149-162`): the primary artifact is an XLSX workbook
  * (`df.to_excel(..., index=False, header=False)`), and when the Excel save
  * fails the SAME frame degrades to headerless CSV — per document, not per
  * table. This decorator writes the scalable docs table through `inner`
  * unchanged, then adds an ARTIFACT table alongside: one row per document
  * carrying the workbook bytes ([[graft.functions.XlsxGrid]], the
  * deterministic kernel writer) or, exactly when the grid exceeds Excel's
  * sheet limits (the real to_excel failure mode), the CSV rendering with
  * `format = 'csv'`. The pairing is one codegen-friendly projection — a
  * per-row `coalesce` over two expressions, no driver loop, no UDF. The two
  * writes are two actions, so `docs` is persisted for them: the docs write
  * computes it (running the kernel once per document) and the artifact
  * write reads the cached rows. */
final class XlsxArtifactTableIO(inner: TableIO, artifactDir: String) extends TableIO {
  import org.apache.spark.sql.functions._
  import org.apache.spark.storage.StorageLevel
  import graft.functions.{CsvGrid, XlsxGrid}

  val artifactsPath = s"$artifactDir/artifacts"

  override def writeDocs(docs: DataFrame): Unit = {
    docs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      inner.writeDocs(docs)
      BucketTables.overwriteBuckets(docs
        .select(col("url"), col("vendor"), col("bucket"),
          XlsxGrid.column(col("cells")).as("xlsx"),
          CsvGrid.column(col("cells")).as("csv"))
        .select(col("url"), col("vendor"),
          when(col("xlsx").isNotNull, lit("xlsx")).otherwise(lit("csv")).as("format"),
          coalesce(col("xlsx"), encode(col("csv"), "UTF-8")).as("artifact"),
          col("bucket")))
        .parquet(artifactsPath)
    } finally docs.unpersist()
  }

  def readArtifacts(spark: SparkSession): DataFrame =
    spark.read.parquet(artifactsPath)

  override def readDocs(spark: SparkSession): DataFrame = inner.readDocs(spark)
  override def appendLineage(lineage: DataFrame): Unit = inner.appendLineage(lineage)
  override def lineageExists(spark: SparkSession): Boolean = inner.lineageExists(spark)
  override def readLineage(spark: SparkSession): DataFrame = inner.readLineage(spark)
}
