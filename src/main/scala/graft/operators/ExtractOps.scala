package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel._
import graft.spark.ExtractPipeline

/** Queries exercising the extraction engine itself plus the non-SQL-
  * expressible operators (Ratcliff-Obershelp fuzzy match, multimodal decode).
  *
  * The extraction inputs are the deterministic synthetic corpus
  * ([[graft.kernel.Corpus]]) — a pure function of (seed, index) — SIZED BY
  * the sf dir (4 pages per `documents` row), so every query's cost and row
  * counts scale with the driver's scale factor. Because the corpus is a pure
  * function, the single-threaded kernel's results are committed under
  * `data/golden_*.parquet` ([[graft.tools.GenGoldenExtract]]) and serve as
  * REAL DuckDB oracles: the driver hash-compares the distributed extraction
  * against an independently-read golden, closing the loop the
  * `sbt -batch test` byte gate opens (ExtractE2ESpec compares the same pure
  * function live).
  */
object ExtractOps {

  /** Committed goldens — resolved to an ABSOLUTE path at query-build time
    * (the oracle SQL ships to the driver's DuckDB, whose cwd is unknown);
    * overridable for non-standard checkouts via GRAFT_GOLDEN_DIR. Resolution
    * walks UP from the compiled-classes/jar location to the repo root
    * (`data/golden_docs.parquet` is the marker) so running from any working
    * directory still finds the committed goldens; cwd is only the last
    * fallback. */
  val GoldenDir: String = sys.env.get("GRAFT_GOLDEN_DIR").getOrElse {
    def hasGolden(f: java.io.File): Boolean =
      new java.io.File(f, "data/golden_docs.parquet").isFile
    val fromCode =
      try Option(getClass.getProtectionDomain.getCodeSource)
        .map(cs => new java.io.File(cs.getLocation.toURI))
        .flatMap(start => Iterator.iterate(start)(_.getParentFile)
          .takeWhile(_ != null).take(8).find(hasGolden))
      catch { case _: Exception => None }
    val base = fromCode.getOrElse(new java.io.File(".").getAbsoluteFile.getParentFile)
    new java.io.File(base, "data").getAbsolutePath
  }

  /** Pages per `documents` row — sf0.001/0.01/0.1 → 200/2 000/20 000 pages. */
  val PagesPerDoc = 4L

  private def nDocs(spark: SparkSession, dir: String): Long =
    OpsCommon.table(spark, dir, "documents").count()

  /** Fingerprint sample: a contiguous 300-page prefix (for the fixed seed
    * this deterministically exercises every routine generator branch —
    * html/table, all three vendors and langs, multi-page /Kids trees, Flate,
    * TJ kerning, hex strings, scanned) plus explicit giant-doc indices (the
    * 1/1000 branch the prefix misses). CorpusFingerprintSpec asserts the
    * branch coverage so a sampling regression fails the build. */
  val FingerprintPrefix = 300L
  val FingerprintGiants: Seq[Long] = Seq(999L, 1999L, 2999L, 3999L, 19999L)

  private[operators] def corpusFingerprintFor(seed: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    // explicit version constant: bumping Corpus.GeneratorVersion invalidates
    // caches even for changes the sampled bytes can't see
    d.update(s"corpus-v${graft.kernel.Corpus.GeneratorVersion}".getBytes("UTF-8"))
    for (i <- (0L until FingerprintPrefix) ++ FingerprintGiants) {
      val p = graft.kernel.Corpus.page(i, seed)
      d.update(p.url.getBytes("UTF-8")); d.update(p.html)
      d.update(p.text.getBytes("UTF-8")); d.update(p.lang.getBytes("UTF-8"))
    }
    d.digest().map(b => f"$b%02x").mkString.take(12)
  }

  /** Content fingerprint of the current corpus DEFINITION: a generator change
    * invalidates the cache instead of silently serving pages from an older
    * build (VERDICT r02 §wrong 4 — the old 4-index sample missed whole
    * branches). */
  private lazy val corpusFingerprint: String = corpusFingerprintFor(42L)

  /** The sf-sized synthetic corpus as a PARQUET TABLE, materialized once per
    * (size, corpus-fingerprint) under the JVM temp dir and re-read
    * thereafter (generation — including Flate compression — is corpus
    * CREATION, not query work; the extraction queries should scan a table
    * exactly like production scans the crawl). Cross-process safe: the
    * corpus is written to a private temp dir and PUBLISHED by atomic rename;
    * a lost race just discards the duplicate. */
  private def cachedPages(spark: SparkSession, n: Long): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_corpus_cache"
    val path = s"$base/pages_${n}_$corpusFingerprint"
    ExtractOps.synchronized {
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        val tmp = s"$path.build${System.nanoTime()}"
        ExtractPipeline.pages(spark, n).write.mode("overwrite").parquet(tmp)
        try Files.move(Paths.get(tmp), Paths.get(path),
          StandardCopyOption.ATOMIC_MOVE)
        catch { case _: Exception => // another process won the race
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        }
      }
    }
    spark.read.parquet(path)
  }

  private def corpusPages(spark: SparkSession, dir: String): DataFrame =
    cachedPages(spark, PagesPerDoc * nDocs(spark, dir))

  /** Build the corpus parquet caches for `dir` WITHOUT running a query —
    * benchmarks call this untimed so one-time corpus generation (Flate
    * compression included) never lands inside a timed window. */
  def prewarmCorpus(spark: SparkSession, dir: String): Unit = {
    val n = nDocs(spark, dir)
    cachedPages(spark, PagesPerDoc * n)
    cachedPages(spark, n) // q27's slice
  }

  private def extracted(spark: SparkSession, dir: String): DataFrame =
    ExtractPipeline.extractDf(corpusPages(spark, dir))

  /** DuckDB view of the golden docs limited to this sf's corpus size. */
  private def goldenDocsSql(perDoc: Long = PagesPerDoc): String =
    s"""SELECT * FROM read_parquet('$GoldenDir/golden_docs.parquet')
       |  WHERE idx < $perDoc * (SELECT count(*) FROM documents)""".stripMargin

  /** q25_extract_rollup — the flagship fleet rollup: per (route, vendor)
    * doc counts, item counts, failure counts, quality mass (A2–A8 rolled up
    * with built-in aggs — SURVEY §2.4 fleet mappings). Quality sums go
    * through DECIMAL (exact, order-independent) so the hash compare is safe
    * under any partitioning on either engine. */
  def q25ExtractRollup(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, dir)
      .groupBy(col("route"), col("vendor"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("nItems")).cast("long").as("sum_items"),
           sum(col("nPages")).cast("long").as("sum_pages"),
           sum(when(col("failure") =!= "", 1L).otherwise(0L)).as("n_failures"),
           OpsCommon.decSum(col("quality.overallScore"), 6).as("sum_quality"),
           sum(length(col("extractedText"))).cast("long").as("sum_text_chars"))
      .orderBy(col("route"), col("vendor"))

  val q25ExtractRollupSql: String =
    s"""WITH g AS (${goldenDocsSql()})
       |SELECT route, vendor, count(*) AS n_docs,
       |  cast(sum(n_items) as bigint) AS sum_items,
       |  cast(sum(n_pages) as bigint) AS sum_pages,
       |  cast(sum(CASE WHEN failure <> '' THEN 1 ELSE 0 END) as bigint) AS n_failures,
       |  ${OpsCommon.decSumSql("quality_score", 6)} AS sum_quality,
       |  cast(sum(n_chars) as bigint) AS sum_text_chars
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q26_extract_text_hash — the byte-identity artifact surfaced as a query:
    * url → md5(extractedText), first 200 urls. The DuckDB side reads the
    * committed golden hashes — a cross-engine per-url byte-identity check,
    * the in-repo analog of the north rule's pass rate. */
  def q26ExtractTextHash(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, dir)
      .select(col("url"), md5(col("extractedText").cast("binary")).as("text_md5"),
        length(col("extractedText")).as("n_chars"), col("route"))
      .orderBy(col("url"))
      .limit(200)

  val q26ExtractTextHashSql: String =
    s"""WITH g AS (${goldenDocsSql()})
       |SELECT url, text_md5, n_chars, route FROM g ORDER BY url LIMIT 200""".stripMargin

  /** q27_extract_expr — extraction through the `extract_doc` column API
    * (SURVEY §2.11) over the sf-sized corpus' first nDocs pages: a different
    * slice than q25, so both slices are oracle-checked independently. */
  def q27ExtractExpr(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExtractDocExpr
    val pages = cachedPages(spark, nDocs(spark, dir))
    pages.select(
      ExtractDocExpr.extractDoc(col("url"), col("html"), col("text"), col("lang")).as("doc"))
      .select(col("doc.url").as("url"), col("doc.route").as("route"),
        col("doc.vendor").as("vendor"), col("doc.failure").as("failure"),
        length(col("doc.extractedText")).as("n_chars"))
      .groupBy(col("route"), col("vendor"), col("failure"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("route"), col("vendor"), col("failure"))
  }

  val q27ExtractExprSql: String =
    s"""WITH g AS (${goldenDocsSql(perDoc = 1L)})
       |SELECT route, vendor, failure, count(*) AS n,
       |  cast(sum(n_chars) as bigint) AS sum_chars
       |FROM g GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q28_fuzzy_match — J2: Ratcliff-Obershelp fuzzy template lookup
    * (difflib-parity expression [[graft.functions.SimRatio]], SURVEY §7.4) as
    * a similarity theta-join: misspelled vendor strings scored against the
    * (broadcast) registry, `difflib.get_close_matches(n=1, cutoff=0.8)`
    * semantics reproduced relationally — filter ratio ≥ 0.8, per-probe argmax
    * with difflib's nlargest tie-break (higher ratio, then lexicographically
    * larger vendor). No UDF: the plan is crossJoin(broadcast) → expression →
    * partitioned window, which at a 10^6-probe batch scales as
    * |probes|×|registry| narrow work with the registry broadcast. */
  def q28FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.SimRatio
    import org.apache.spark.sql.expressions.Window
    val vendors = Vendor.builtinTemplates.keys.toVector.sorted.toDF("vendor")
    val probes = Seq("newark", "newrak", "nework", "sysco", "syscoo", "scysco",
      "test", "tets", "driscoll", "amazn").toDF("probe")
    // difflib scores ratio(possibility, word) — argument order preserved
    val scored = probes.crossJoin(broadcast(vendors))
      .withColumn("r", SimRatio.column(col("vendor"), col("probe")))
      .filter(col("r") >= 0.8)
    val w = Window.partitionBy(col("probe")).orderBy(col("r").desc, col("vendor").desc)
    val best = scored
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("probe"), col("vendor").as("matched"),
        (floor(SimRatio.column(col("probe"), col("vendor")) * 1e6) / 1e6).as("ratio"))
    probes.join(best, Seq("probe"), "left")
      .na.fill("", Seq("matched")).na.fill(0.0, Seq("ratio"))
      .orderBy(col("probe"))
  }

  /** q28 oracle: expected rows computed by CPython difflib itself (same
    * probes/registry; `difflib.get_close_matches(p, vendors, 1, 0.8)` +
    * `floor(SequenceMatcher(None, p, m).ratio()*1e6)/1e6`) — a literal
    * cross-engine gate for an operator ANSI SQL cannot express. */
  val q28FuzzyMatchSql: String =
    """SELECT probe, matched, ratio FROM (VALUES
      |  ('amazn', '', 0.0),
      |  ('driscoll', '', 0.0),
      |  ('newark', 'newark', 1.0),
      |  ('nework', 'newark', 0.833333),
      |  ('newrak', 'newark', 0.833333),
      |  ('scysco', 'sysco', 0.90909),
      |  ('sysco', 'sysco', 1.0),
      |  ('syscoo', 'sysco', 0.90909),
      |  ('test', 'test', 1.0),
      |  ('tets', '', 0.0)) AS t(probe, matched, ratio)
      |ORDER BY probe""".stripMargin

  /** q29_multimodal — multimodal decode: binary media column → typed Dataset
    * map (Scala analog of a mapInPandas decode batch) → typed
    * metadata/features → rollup, sized by the sf dir. PNG/JPEG/BMP payloads
    * are decoded for REAL by the JDK `javax.imageio` codecs
    * ([[graft.kernel.Multimodal.decode]]); audio/video ride the documented
    * GMB stand-in container. The committed golden metas give the whole family
    * a cross-engine oracle. */
  def q29Multimodal(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[Multimodal.MediaMeta]
    val metas = spark.range(0, PagesPerDoc * nDocs(spark, dir), 1, 8)
      .map(i => Multimodal.decode(i, Multimodal.blob(i)))
    metas.toDF()
      .groupBy(col("format"), col("channels"))
      .agg(count(lit(1)).as("n"),
           sum(col("nBytes")).cast("long").as("sum_bytes"),
           max(col("width")).as("max_w"), max(col("height")).as("max_h"),
           sum(when(col("failure") =!= "", 1L).otherwise(0L)).as("n_failures"))
      .orderBy(col("format"), col("channels"))
  }

  val q29MultimodalSql: String =
    s"""WITH g AS (SELECT * FROM read_parquet('$GoldenDir/golden_media.parquet')
       |  WHERE idx < $PagesPerDoc * (SELECT count(*) FROM documents))
       |SELECT format, channels, count(*) AS n,
       |  cast(sum(n_bytes) as bigint) AS sum_bytes,
       |  max(width) AS max_w, max(height) AS max_h,
       |  cast(sum(CASE WHEN failure <> '' THEN 1 ELSE 0 END) as bigint) AS n_failures
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q38_extract_pages — S12 done properly: real multi-page PDFs exploded
    * into per-page rows via `posexplode(extract_pages(...))`
    * ([[graft.functions.ExtractPagesExpr]]) — each page independently
    * routed/sliced by the kernel (the reference's split-into-files batch loop
    * as one narrow map + generator). Rolled up per page number; row counts
    * scale with the sf dir and the oracle reads the committed per-page
    * golden. */
  def q38ExtractPages(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ExtractPagesExpr
    corpusPages(spark, dir)
      .select(col("url"),
        posexplode(ExtractPagesExpr.extractPages(
          col("url"), col("html"), col("text"), col("lang"))).as(Seq("pos", "pg")))
      .select(col("url"), col("pg.page").as("page"),
        col("pg.nItems").as("n_items"), length(col("pg.text")).as("n_chars"))
      .groupBy(col("page"))
      .agg(count(lit(1)).as("n_pages"),
           countDistinct(col("url")).as("n_docs"),
           sum(col("n_items")).cast("long").as("sum_items"),
           sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("page"))
  }

  val q38ExtractPagesSql: String =
    s"""WITH g AS (SELECT * FROM read_parquet('$GoldenDir/golden_pages.parquet')
       |  WHERE idx < $PagesPerDoc * (SELECT count(*) FROM documents))
       |SELECT page, count(*) AS n_pages, count(distinct url) AS n_docs,
       |  cast(sum(n_items) as bigint) AS sum_items,
       |  cast(sum(n_chars) as bigint) AS sum_chars
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q30_explode_pages — S12 (multi-page split) as posexplode: documents
    * exploded into per-“page” text chunks of 20 tokens, counted per source.
    * The generator-shaped operator from SURVEY §2.11. */
  def q30ExplodePages(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    OpsCommon.table(spark, dir, "documents")
      .withColumn("chunks",
        transform(sequence(lit(0), ((size(toks) - 1) / 20).cast("int")), i =>
          concat_ws(" ", slice(toks, i * 20 + 1, lit(20)))))
      .select(col("doc_id"), col("source"), posexplode(col("chunks")).as(Seq("page_no", "chunk")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
           countDistinct(col("doc_id")).as("n_docs"),
           max(col("page_no")).as("max_page_no"))
      .orderBy(col("source"))
  }

  /** Oracle for q30 (pure SQL shape — chunk arithmetic mirrors 1-based
    * list_slice). */
  val q30ExplodePagesSql: String =
    """SELECT source, count(*) AS n_chunks, count(distinct doc_id) AS n_docs,
      |  cast(max(page_no) as int) AS max_page_no
      |FROM (
      |  SELECT doc_id, source, unnest(range(0, (len(string_split(text,' ')) - 1) // 20 + 1)) AS page_no
      |  FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q39_template_stats — A9 (`get_stats`, `template.py:308-336`) as a real
    * aggregation over the registry rows (count / avg / min / max column
    * arity, sorted vendor list); [[graft.kernel.TemplateStore.stats]] is the
    * kernel twin. Registry-sized data — the query shape matters, not the
    * scale. */
  def q39TemplateStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Vendor.builtinTemplates.values.toSeq
      .map(t => (t.vendor, t.columns.length - 1))
      .toDF("vendor", "n_columns")
    rows.agg(
      count(lit(1)).as("n_templates"),
      avg(col("n_columns")).as("avg_columns"),
      min(col("n_columns")).as("min_columns"),
      max(col("n_columns")).as("max_columns"),
      concat_ws(",", sort_array(collect_list(col("vendor")))).as("vendors"))
  }

  val q39TemplateStatsSql: String =
    """SELECT count(*) AS n_templates, avg(n_columns) AS avg_columns,
      |  min(n_columns) AS min_columns, max(n_columns) AS max_columns,
      |  string_agg(vendor, ',' ORDER BY vendor) AS vendors
      |FROM (VALUES ('newark', 16), ('sysco', 10), ('test', 3)) AS t(vendor, n_columns)""".stripMargin

  /** q41_quality_hist — the custom typed `Aggregator` surface
    * ([[graft.functions.QualityHistogram]], §2.11 UDAF row): per-route exact
    * quality histograms, exploded back to (route, bucket, n) rows. Zero
    * buckets are emitted too (the aggregator's buffer carries them — a
    * groupBy-count can't), which is exactly what makes it a custom buffer
    * demo rather than builtin sugar. */
  def q41QualityHist(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QualityHistogram
    val hist = udaf(QualityHistogram)
    extracted(spark, dir)
      .groupBy(col("route"))
      .agg(hist(col("quality.overallScore")).as("h"))
      .select(col("route"), posexplode(col("h")).as(Seq("bucket", "n")))
      .orderBy(col("route"), col("bucket"))
  }

  val q41QualityHistSql: String =
    s"""WITH g AS (${goldenDocsSql()}),
       |spine AS (
       |  SELECT r.route, b.range AS bucket
       |  FROM (SELECT DISTINCT route FROM g) r CROSS JOIN range(10) b),
       |counts AS (
       |  SELECT route,
       |    least(9, greatest(0, cast(floor(quality_score / 10.0) as int))) AS bucket,
       |    count(*) AS n
       |  FROM g GROUP BY 1, 2)
       |SELECT s.route, cast(s.bucket as int) AS bucket,
       |  cast(coalesce(c.n, 0) as bigint) AS n
       |FROM spine s LEFT JOIN counts c ON s.route = c.route AND s.bucket = c.bucket
       |ORDER BY s.route, s.bucket""".stripMargin

  /** q42_stream_extract — the Structured Streaming surface as a catalog
    * query: the sf-sized first-nDocs page slice is staged as parquet FILES,
    * drained by [[graft.streaming.ExtractStream.run]] (file stream → kernel
    * expression → parquet sink, exactly-once via the checkpoint WAL,
    * `Trigger.AvailableNow`, several micro-batches via maxFilesPerTrigger),
    * and the sink is rolled up per route. The streamed result must equal the
    * batch extraction over the same slice, so the committed golden is a true
    * cross-engine oracle for the STREAMING path. The tiny rollup is collected
    * so the temp stream dirs can be cleaned up eagerly. */
  def q42StreamExtract(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val n = nDocs(spark, dir)
    val tmp = Files.createTempDirectory("graft_stream").toString
    try {
      val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      cachedPages(spark, n).repartition(8).write.parquet(inDir)
      val q = graft.streaming.ExtractStream.run(spark, inDir, outDir, ckpt,
        maxFilesPerTrigger = 2)
      q.awaitTermination()
      val rolled = spark.read.parquet(outDir)
        .groupBy(col("route"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("failure") =!= "", 1L).otherwise(0L)).as("n_failures"),
             sum(length(col("extractedText"))).cast("long").as("sum_chars"))
        .orderBy(col("route"))
      val rows = rolled.collect()
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, rolled.schema)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  val q42StreamExtractSql: String =
    s"""WITH g AS (${goldenDocsSql(perDoc = 1L)})
       |SELECT route, count(*) AS n,
       |  cast(sum(CASE WHEN failure <> '' THEN 1 ELSE 0 END) as bigint) AS n_failures,
       |  cast(sum(n_chars) as bigint) AS sum_chars
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q43_csv_render — S10's degraded artifact as a query: each document's
    * cell grid rendered to the pandas-parity CSV by the BUILTIN-expression
    * renderer ([[graft.functions.CsvGrid]], codegen'd `transform` +
    * `array_join`, no UDF), hashed per url. The DuckDB side reads the
    * committed golden `csv_md5`/`csv_len` — rendered by the kernel twin
    * [[graft.kernel.Csv]], itself pinned byte-for-byte to the reference's own
    * pandas `to_csv` (CsvParitySpec) — so the expression surface, the kernel
    * renderer, and pandas are all tied together cross-engine. */
  def q43CsvRender(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, dir)
      .select(col("url"), graft.functions.CsvGrid.column(col("cells")).as("csv"))
      .select(col("url"), md5(col("csv").cast("binary")).as("csv_md5"),
        length(col("csv")).as("csv_len"))
      .orderBy(col("url"))
      .limit(200)

  val q43CsvRenderSql: String =
    s"""WITH g AS (${goldenDocsSql()})
       |SELECT url, csv_md5, csv_len FROM g ORDER BY url LIMIT 200""".stripMargin

  /** q44_stream_windowed — the WATERMARKED streaming rollup
    * ([[graft.streaming.ExtractStream.windowedRollup]]) as a driver-gated
    * query, in APPEND mode (the production shape: a window row is emitted
    * exactly once, when the watermark passes its end — the state-eviction
    * contract that keeps streaming state bounded at a 10^12-doc tail).
    *
    * Determinism mechanics: the page slice is staged as chronologically
    * ordered parquet files (one per 3-minute event-time chunk, explicit
    * ascending mod-times; the file source drains oldest-first at one file
    * per micro-batch), so the 2-minute watermark never drops an in-order
    * row. TWO far-future sentinel pages then push the watermark past every
    * real window across two final micro-batches — the second batch evicts
    * and emits everything the first batch's watermark covers, without
    * relying on a trailing no-data batch. The sentinels' own windows never
    * finalize and are absent, so the sink equals the batch group-by over
    * the committed golden. */
  def q44StreamWindowed(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val n = nDocs(spark, dir)
    val tmp = Files.createTempDirectory("graft_stream_win").toString
    try {
      val inDir = Paths.get(s"$tmp/in"); Files.createDirectories(inDir)
      val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val pages = cachedPages(spark, n)
      val baseSec = graft.kernel.Corpus.BaseEpochMs / 1000L
      val chunkSec = 180L
      val nChunks = ((n + chunkSec - 1) / chunkSec).toInt
      var fileNo = 0
      def stage(df: DataFrame): Unit = {
        val stg = s"$tmp/stage$fileNo"
        df.coalesce(1).write.parquet(stg)
        for (f <- new java.io.File(stg).listFiles()
             if f.getName.endsWith(".parquet")) {
          val dst = inDir.resolve(f"c$fileNo%05d.parquet")
          Files.move(f.toPath, dst, StandardCopyOption.ATOMIC_MOVE)
          // explicit ascending mod-times: the file source's oldest-first
          // order must match event-time order, not write-job timing
          dst.toFile.setLastModified(1700000000000L + fileNo * 1000L)
        }
        fileNo += 1
      }
      for (k <- 0 until nChunks)
        stage(pages.where(col("warc_ts").cast("long")
          .between(baseSec + k * chunkSec, baseSec + (k + 1) * chunkSec - 1)))
      for (s <- Seq(900L, 1800L))
        stage(pages.limit(1)
          .withColumn("warc_ts",
            lit(new java.sql.Timestamp((baseSec + n + s) * 1000L)))
          .withColumn("url", lit(s"sentinel-$s")))
      val stream = spark.readStream
        .schema(graft.streaming.ExtractStream.pageSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString)
      val query = graft.streaming.ExtractStream.windowedRollup(stream)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      val res = spark.read.parquet(outDir)
        .select(col("window.start").cast("long").as("win_start_s"),
          col("route"), col("n_docs"), col("n_failures"),
          col("sum_text_chars").as("sum_chars"))
        // the sentinels are harness scaffolding, not data: drop their
        // windows (the trailing no-data batch finalizes the EARLIER
        // sentinel's window once the later one advances the watermark)
        .where(col("win_start_s") < lit(baseSec + n))
        .orderBy(col("win_start_s"), col("route"))
      val rows = res.collect()
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.toSeq.asJava, res.schema)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  val q44StreamWindowedSql: String =
    s"""WITH g AS (${goldenDocsSql(perDoc = 1L)})
       |SELECT ${graft.kernel.Corpus.BaseEpochMs / 1000L} + (idx // 60) * 60 AS win_start_s,
       |  route, count(*) AS n_docs,
       |  cast(sum(CASE WHEN failure <> '' THEN 1 ELSE 0 END) as bigint) AS n_failures,
       |  cast(sum(n_chars) as bigint) AS sum_chars
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q45_template_create — the S7/S8 lifecycle INCLUDING creation
    * ([[graft.kernel.TemplateStore.create]]): create two templates with
    * deliberately messy geometry (unsorted column guides, guides outside
    * the box — normalized by the reference's auto-sort + clamp), update one
    * (created provenance preserved, modified restamped), reject an invalid
    * box (degenerate — must not touch the registry), then RELOAD the
    * persisted file and emit the normalized rows. The oracle is the
    * expected normalized registry as VALUES — cross-engine proof that
    * create → atomic persist → load round-trips the reference's
    * normalization semantics. */
  def q45TemplateCreate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.kernel.TemplateStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_tpl").toString
    val reg = s"$tmp/templates.json"
    try {
      val t1 = "2025-09-01T00:00:00Z"; val t2 = "2025-09-02T00:00:00Z"
      val r1 = TemplateStore.create(reg, "Acme",
        Vector(100, 200, 900, 1000), Vector(950, 90, 400), nowIso = t1)
      val r2 = TemplateStore.create(reg, "widgetco",
        Vector(0, 0, 500, 500), Vector(0, 100, 200, 500), nowIso = t1)
      val r3 = TemplateStore.create(reg, "ACME", // update: key normalizes
        Vector(50, 50, 800, 900), Vector(60, 300, 700), nowIso = t2)
      val rejected = TemplateStore.create(reg, "bad",
        Vector(9, 9, 9, 9), Vector(1, 2), nowIso = t2).isLeft
      val allOk = r1.isRight && r2.isRight && r3.isRight && rejected
      TemplateStore.load(reg).toSeq.sortBy(_._1).map { case (v, t) =>
        (v, t.columns.length - 1, t.columns.head, t.columns.last,
          t.created, t.modified, allOk)
      }.toDF("vendor", "n_cols", "col_first", "col_last",
        "created", "modified", "lifecycle_ok")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(tmp))
  }

  val q45TemplateCreateSql: String =
    """SELECT * FROM (VALUES
      |  ('acme', 2, 60, 700, '2025-09-01T00:00:00Z', '2025-09-02T00:00:00Z', true),
      |  ('widgetco', 3, 0, 500, '2025-09-01T00:00:00Z', '2025-09-02T00:00:00Z', true))
      |  AS t(vendor, n_cols, col_first, col_last, created, modified, lifecycle_ok)
      |ORDER BY vendor""".stripMargin

  /** q46_damaged_recovery — damaged-file reconstruction as a driver-visible
    * query (the spec-level gate graduated, the way q42 graduated streaming):
    * the corpus's first 200 pages are filtered to unencrypted classic-xref
    * PDFs and each is damaged three ways ([[graft.kernel.PdfDamage]] — xref
    * entry offsets zeroed, startxref re-pointed past EOF, xref+trailer
    * stripped entirely), then re-extracted through the FULL router; a doc
    * counts as recovered only when the damaged parse's extracted text is
    * byte-identical to the pristine parse's. The slice is a fixed prefix
    * (identical at every sf — the corpus is a pure function of the index),
    * so the oracle is the committed expected counts as VALUES; the
    * distributed shape is one narrow map over the prefix, each
    * extraction with the built-in template registry. */
  def q46DamagedRecovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ExtractPipeline.pages(spark, 200L)
      .flatMap { p =>
        val vs = PdfDamage.variants(p.html)
        if (vs.isEmpty) Iterator.empty
        else {
          val pristine = Extractor.extract(p.url, p.html, p.text, p.lang).extractedText
          vs.iterator.map { case (kind, dmg) =>
            val rec = Extractor.extract(p.url, dmg, p.text, p.lang).extractedText
            (kind, 1L, if (pristine.nonEmpty && rec == pristine) 1L else 0L)
          }
        }
      }
      .toDF("damage_kind", "one", "ok")
      .groupBy(col("damage_kind"))
      .agg(sum(col("one")).cast("long").as("n_docs"),
           sum(col("ok")).cast("long").as("n_recovered"))
      .orderBy(col("damage_kind"))
  }

  val q46DamagedRecoverySql: String =
    """SELECT * FROM (VALUES
      |  ('startxref_bogus', cast(17 as bigint), cast(17 as bigint)),
      |  ('trailer_stripped', cast(17 as bigint), cast(17 as bigint)),
      |  ('xref_zeroed', cast(17 as bigint), cast(17 as bigint)))
      |  AS t(damage_kind, n_docs, n_recovered)
      |ORDER BY damage_kind""".stripMargin

  /** q47_redact — PII-style pattern scrubbing over the distributed
    * extraction output (the post-extraction cleanup step of a training-data
    * pipeline): prices, dates and account numbers are counted and replaced
    * via codegen'd `regexp_count`/`regexp_replace` column expressions —
    * rules shared with the kernel twin ([[graft.kernel.Redact.Rules]], the
    * contract; the ENGINES differ), whose output the committed golden
    * records per url. Counts are computed on the progressively-redacted
    * text exactly like the kernel applies them, so the two sides agree on
    * any input, not just pattern-disjoint text. Plan shape: one narrow map
    * over the extraction (no shuffle before the order/limit), same as q26. */
  def q47Redact(spark: SparkSession, dir: String): DataFrame = {
    val rules = graft.kernel.Redact.Rules
    val (priceRe, dateRe, acctRe) = (rules(0)._2, rules(1)._2, rules(2)._2)
    val t0 = col("extractedText")
    val t1 = regexp_replace(t0, priceRe, rules(0)._3)
    val t2 = regexp_replace(t1, dateRe, rules(1)._3)
    val t3 = regexp_replace(t2, acctRe, rules(2)._3)
    extracted(spark, dir)
      .select(col("url"),
        regexp_count(t0, lit(priceRe)).cast("int").as("n_red_price"),
        regexp_count(t1, lit(dateRe)).cast("int").as("n_red_date"),
        regexp_count(t2, lit(acctRe)).cast("int").as("n_red_acct"),
        md5(t3.cast("binary")).as("redacted_md5"),
        col("route"))
      .orderBy(col("url"))
      .limit(200)
  }

  val q47RedactSql: String =
    s"""WITH g AS (${goldenDocsSql()})
       |SELECT url, n_red_price, n_red_date, n_red_acct, redacted_md5, route
       |FROM g ORDER BY url LIMIT 200""".stripMargin

  /** q48_dialect_census — the crawl-ops format census: every corpus payload
    * tagged with its writer dialect ([[graft.kernel.PdfLite.dialect]]: xref
    * form, filters, encryption flavor, font mechanisms, image codecs) via
    * the `pdf_dialect` expression, rolled up by tag set. This is the scan
    * that sizes which parser tiers matter BEFORE a 100-TB extraction run —
    * and it makes every corpus realism tier a driver-visible oracle row.
    * Plan shape: one narrow expression map → two-phase hash agg; at scale
    * the map-side combine collapses each partition to its distinct tag
    * sets, so the shuffle carries O(dialects × partitions) rows. */
  def q48DialectCensus(spark: SparkSession, dir: String): DataFrame =
    corpusPages(spark, dir)
      .select(graft.functions.PdfDialectExpr.pdfDialect(col("html")).as("dialect"))
      .groupBy(col("dialect"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("dialect"))

  val q48DialectCensusSql: String =
    s"""WITH g AS (SELECT * FROM read_parquet('$GoldenDir/golden_dialects.parquet')
       |  WHERE idx < $PagesPerDoc * (SELECT count(*) FROM documents))
       |SELECT dialect, count(*) AS n_docs FROM g
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q49_outlinks — the PDF half of the crawl link graph: every `/Annots`
    * link-annotation URI extracted via the `pdf_links` expression, exploded
    * and rolled up by target domain. At crawl scale this IS the frontier
    * feed. Plan shape: narrow expression map → Generate(explode) → regexp
    * domain split → two-phase hash agg; the shuffle carries
    * O(domains × partitions) rows after map-side combine. Oracle: the
    * committed kernel golden (single-threaded [[graft.kernel.PdfLite.links]]
    * over the same corpus) re-aggregated by DuckDB's own regexp engine. */
  def q49Outlinks(spark: SparkSession, dir: String): DataFrame =
    corpusPages(spark, dir)
      .select(explode(graft.functions.PdfLinksExpr.pdfLinks(col("html"))).as("link"))
      .select(regexp_extract(col("link"), "^https?://([^/]+)/", 1).as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_links"))
      .orderBy(col("domain"))

  val q49OutlinksSql: String =
    s"""WITH g AS (SELECT * FROM read_parquet('$GoldenDir/golden_links.parquet')
       |  WHERE idx < $PagesPerDoc * (SELECT count(*) FROM documents))
       |SELECT regexp_extract(link, '^https?://([^/]+)/', 1) AS domain,
       |       count(*) AS n_links
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q50_doc_meta — provenance census over the document-information
    * dictionaries (`pdf_meta`): writer/producer rollup with creation-date
    * ranges, the signal training pipelines key dedup cohorts and writer-bug
    * quarantines on. Plan shape: narrow struct-returning expression map →
    * two-phase hash agg on producer. */
  def q50DocMeta(spark: SparkSession, dir: String): DataFrame =
    corpusPages(spark, dir)
      .select(graft.functions.PdfMetaExpr.pdfMeta(col("html")).as("m"))
      .filter(col("m").isNotNull && col("m.producer") =!= "")
      .select(col("m.producer").as("producer"), col("m.created").as("created"))
      .groupBy(col("producer"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("created")).as("first_created"),
        max(col("created")).as("last_created"))
      .orderBy(col("producer"))

  val q50DocMetaSql: String =
    s"""WITH g AS (SELECT * FROM read_parquet('$GoldenDir/golden_meta.parquet')
       |  WHERE idx < $PagesPerDoc * (SELECT count(*) FROM documents)
       |    AND producer <> '')
       |SELECT producer, count(*) AS n_docs,
       |       min(created) AS first_created, max(created) AS last_created
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q51_real_pdf_batch — the REAL-corpus gate (VERDICT r04 "next round"
    * #1): run the 241 genuine PDFs shipped inside the reference repo through
    * the native-route parser ([[graft.kernel.PdfLite.parseNative]], the
    * PyMuPDF twin) + the newark template + the slicer kernel, and reproduce
    * the reference's OWN outputs — `single_page_debug.log`'s page-1 funnel
    * (256 items → 149 in box → 19 raw rows → 10 merged) and the full
    * `NEWARK_SMART_20250902_120119.xlsx` batch (2 136 rows, hashed cell for
    * cell). Every other gate in this repo parses bytes written by the
    * repo's own writer twin; this one parses bytes the repo has never
    * controlled. Plan shape: binaryFile scan → one narrow struct expression
    * per document ([[graft.functions.PdfTableGridExpr]]) → single partial
    * agg; the only driver-side state is 241 per-page digest strings inside
    * `collect_list` (at 10^9 documents the same query hashes per-shard and
    * re-aggregates — the data path itself is one shuffle-free map stage).
    * Oracle: literals read from `data/realpdf_batch.json`, which
    * `tools/gen_golden_realpdf.py` derives from the xlsx + debug log — the
    * reference's artifacts, not this repo's parser. */
  def q51RealPdfBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PdfTableGridExpr.pdfTableGrid
    val pages = spark.read.format("binaryFile")
      .load(graft.kernel.RealPdf.Dir + "/*_page*.pdf")
      .select(col("path"), pdfTableGrid(col("content")).as("f"))
      .select(col("path"),
        col("f.n_items").as("n_items"), col("f.in_box").as("in_box"),
        col("f.raw_rows").as("raw_rows"), size(col("f.grid")).as("n_rows"),
        array_join(transform(col("f.grid"),
          r => array_join(r, "")), "").as("ser"))
    val isP1 = col("path").endsWith("_page1.pdf")
    pages
      .agg(
        count(lit(1)).as("n_pages"),
        sum(col("n_rows")).as("total_rows"),
        max(when(isP1, col("n_items"))).as("page1_items"),
        max(when(isP1, col("in_box"))).as("page1_in_box"),
        max(when(isP1, col("raw_rows"))).as("page1_raw_rows"),
        max(when(isP1, col("n_rows"))).as("page1_rows"),
        collect_list(struct(col("path"), col("ser"))).as("pages"))
      .select(col("n_pages"), col("total_rows"), col("page1_items"),
        col("page1_in_box"), col("page1_raw_rows"), col("page1_rows"),
        // page order = lexicographic path = the reference's sorted-glob
        // batch order; the concatenation reproduces the xlsx row stream
        md5(encode(array_join(transform(array_sort(col("pages")),
          x => x.getField("ser")), ""), "UTF-8")).as("cells_md5"))
  }

  /** Oracle literals for q51: read from the committed
    * `data/realpdf_batch.json` fixture (derived from the reference's xlsx +
    * debug log by `tools/gen_golden_realpdf.py`) so the numbers live in ONE
    * regenerable place, never in source. */
  val q51RealPdfBatchSql: String = {
    val j =
      try {
        val src = scala.io.Source.fromFile(
          s"$GoldenDir/realpdf_batch.json", "UTF-8")
        try src.mkString finally src.close()
      } catch { case _: Exception => "" }
    def field(k: String, dflt: String): String = {
      val m = java.util.regex.Pattern
        .compile("\"" + k + "\":\\s*\"?([0-9a-f.]+)\"?").matcher(j)
      if (m.find()) m.group(1) else dflt
    }
    s"SELECT ${field("n_pages", "0")} AS n_pages, " +
      s"${field("total_rows", "0")} AS total_rows, " +
      s"${field("items", "0")} AS page1_items, " +
      s"${field("in_box", "0")} AS page1_in_box, " +
      s"${field("raw_rows", "0")} AS page1_raw_rows, " +
      s"${field("rows", "0")} AS page1_rows, " +
      s"'${field("cells_md5", "missing-fixture")}' AS cells_md5"
  }

  /** q54_password_auth — REAL-password documents opened through the
    * crawl-wide credential try-list (the PyMuPDF `authenticate` contract,
    * `smart_extract.py:64-97`): 108 deterministic fixtures spanning the
    * three Standard-Security-Handler flavors × three credential shapes —
    * the USER password is in the try-list, only the OWNER password is (the
    * Algorithm-7/12 owner route must recover the file key), or neither is
    * (the document must stay opaque, never misparse). "Opened" = extracted
    * text byte-equal to the unprotected twin's. Fixtures are written
    * per-partition on executors (same pattern as q46) — nothing is
    * collected, and at 10^12 docs the same query is one narrow map + a
    * 9-group aggregate. */
  def q54PasswordAuth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tryList = Seq("argon-7", "vault#22")
    spark.range(108).repartition(8)
      .map { i =>
        val flavor = Seq("rc4_v2r3", "aes128_v4r4", "aes256_v5r6")((i % 3).toInt)
        val cred = Seq("user_known", "owner_known", "none_known")(((i / 3) % 3).toInt)
        val inList = tryList((i % 2).toInt)
        val (userPw, ownerPw) = cred match {
          case "user_known"  => (inList, s"adm-$i")
          case "owner_known" => (s"secret-$i", inList)
          case _             => (s"secret-$i", s"adm-$i")
        }
        val pageText = s"Manifest $i: " + ("units cleared for dock 7 " * 6)
        val spec = Seq(PdfLite.PageSpec(1700, 1200,
          Seq(PdfLite.Run(100, 100, 12, pageText))))
        val plain = PdfLite.writeDoc(spec)
        val locked = PdfLite.writeDoc(spec,
          encrypt = flavor == "rc4_v2r3", aes = flavor == "aes128_v4r4",
          aes256 = flavor == "aes256_v5r6",
          userPw = userPw, ownerPw = ownerPw)
        val url = s"pdf://locked/$i"
        // pre-extracted text >100 chars keeps the route native
        val pristine = Extractor.extract(url, plain, pageText, "en").extractedText
        val rec = Extractor.extract(url, locked, pageText, "en",
          passwords = tryList).extractedText
        (flavor, cred, 1L,
          if (pristine.nonEmpty && rec == pristine) 1L else 0L)
      }
      .toDF("flavor", "cred", "one", "ok")
      .groupBy(col("flavor"), col("cred"))
      .agg(sum(col("one")).cast("long").as("n_docs"),
           sum(col("ok")).cast("long").as("n_opened"))
      .orderBy(col("flavor"), col("cred"))
  }

  val q54PasswordAuthSql: String =
    """SELECT * FROM (VALUES
      |  ('aes128_v4r4', 'none_known',  cast(12 as bigint), cast(0 as bigint)),
      |  ('aes128_v4r4', 'owner_known', cast(12 as bigint), cast(12 as bigint)),
      |  ('aes128_v4r4', 'user_known',  cast(12 as bigint), cast(12 as bigint)),
      |  ('aes256_v5r6', 'none_known',  cast(12 as bigint), cast(0 as bigint)),
      |  ('aes256_v5r6', 'owner_known', cast(12 as bigint), cast(12 as bigint)),
      |  ('aes256_v5r6', 'user_known',  cast(12 as bigint), cast(12 as bigint)),
      |  ('rc4_v2r3',    'none_known',  cast(12 as bigint), cast(0 as bigint)),
      |  ('rc4_v2r3',    'owner_known', cast(12 as bigint), cast(12 as bigint)),
      |  ('rc4_v2r3',    'user_known',  cast(12 as bigint), cast(12 as bigint)))
      |  AS t(flavor, cred, n_docs, n_opened)
      |ORDER BY flavor, cred""".stripMargin

  /** q55_jpx_routing — JPEG 2000 image XObjects as a driver-visible routing
    * gate (the way q46 graduated damaged-file recovery to a query): each of
    * the corpus's first 200 pages donates its url as the deterministic
    * identity, and a scanned one-page PDF is built around a `/JPXDecode`
    * image XObject in one of four shapes chosen by url hash — valid raw
    * 15444-1 codestream, valid JP2 box container, corrupt payload (header
    * zeroed), dict-geometry mismatch — then re-routed through the FULL
    * extractor. The routing contract under test ([[graft.kernel.Jpx]], the
    * same one `/DCTDecode`/`/CCITTFaxDecode`/`/JBIG2Decode` obey): only the
    * two valid shapes may promote a text-free page to the high-confidence
    * (0.9) scanned route, while all four tag `img:jpx` in the dialect
    * census. The slice is a fixed prefix (identical at every sf — the
    * corpus is a pure function of the index), so the oracle is the
    * committed per-shape counts as VALUES; distributed shape: one narrow
    * map over the prefix, no shuffle before the 4-group rollup
    * (the q46 pattern). */
  def q55JpxRouting(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ExtractPipeline.pages(spark, 200L)
      .map { p =>
        val k = ((p.url.hashCode % 997) + 997) % 997
        val w = 400 + (k % 7) * 32
        val h = 600 + (k % 5) * 16
        val nc = 1 + (k % 3)
        val shape = k % 4 match {
          case 0 => "raw_valid"
          case 1 => "jp2_valid"
          case 2 => "corrupt"
          case _ => "geom_mismatch"
        }
        val payload = shape match {
          case "raw_valid" => Jpx.Payload(Jpx.encode(w, h, nc), w, h)
          case "jp2_valid" => Jpx.Payload(Jpx.encodeJp2(w, h, nc), w, h)
          case "corrupt" =>
            val b = Jpx.encode(w, h, nc)
            java.util.Arrays.fill(b, 0, 8, 0.toByte)
            Jpx.Payload(b, w, h)
          case _ => Jpx.Payload(Jpx.encode(w, h, nc), w + 1, h)
        }
        val pdf = PdfLite.writeDoc(
          Seq(PdfLite.PageSpec(1700, 1200, Seq.empty)),
          scanned = true, jpxImage = Some(payload))
        val doc = Extractor.extract(p.url, pdf, "", p.lang)
        val promoted = doc.route == "scanned" && doc.routeConfidence >= 0.9
        val tagged = PdfLite.dialect(pdf).split(",").contains("img:jpx")
        (shape, 1L, if (promoted) 1L else 0L, if (tagged) 1L else 0L)
      }
      .toDF("jpx_shape", "one", "hi", "tagged")
      .groupBy(col("jpx_shape"))
      .agg(sum(col("one")).cast("long").as("n_docs"),
           sum(col("hi")).cast("long").as("n_promoted"),
           sum(col("tagged")).cast("long").as("n_tagged"))
      .orderBy(col("jpx_shape"))
  }

  val q55JpxRoutingSql: String =
    """SELECT * FROM (VALUES
      |  ('corrupt',       cast(45 as bigint), cast(0 as bigint),  cast(45 as bigint)),
      |  ('geom_mismatch', cast(52 as bigint), cast(0 as bigint),  cast(52 as bigint)),
      |  ('jp2_valid',     cast(51 as bigint), cast(51 as bigint), cast(51 as bigint)),
      |  ('raw_valid',     cast(52 as bigint), cast(52 as bigint), cast(52 as bigint)))
      |  AS t(jpx_shape, n_docs, n_promoted, n_tagged)
      |ORDER BY jpx_shape""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q25_extract_rollup" -> (q25ExtractRollup _),
    "q26_extract_text_hash" -> (q26ExtractTextHash _),
    "q27_extract_expr" -> (q27ExtractExpr _),
    "q28_fuzzy_match" -> (q28FuzzyMatch _),
    "q29_multimodal" -> (q29Multimodal _),
    "q30_explode_pages" -> (q30ExplodePages _),
    "q38_extract_pages" -> (q38ExtractPages _),
    "q39_template_stats" -> (q39TemplateStats _),
    "q41_quality_hist" -> (q41QualityHist _),
    "q42_stream_extract" -> (q42StreamExtract _),
    "q43_csv_render" -> (q43CsvRender _),
    "q44_stream_windowed" -> (q44StreamWindowed _),
    "q45_template_create" -> (q45TemplateCreate _),
    "q46_damaged_recovery" -> (q46DamagedRecovery _),
    "q47_redact" -> (q47Redact _),
    "q48_dialect_census" -> (q48DialectCensus _),
    "q49_outlinks" -> (q49Outlinks _),
    "q50_doc_meta" -> (q50DocMeta _),
    "q51_real_pdf_batch" -> (q51RealPdfBatch _),
    "q54_password_auth" -> (q54PasswordAuth _),
    "q55_jpx_routing" -> (q55JpxRouting _))

  def oracles: Map[String, String] = Map(
    "q25_extract_rollup" -> q25ExtractRollupSql,
    "q26_extract_text_hash" -> q26ExtractTextHashSql,
    "q27_extract_expr" -> q27ExtractExprSql,
    "q28_fuzzy_match" -> q28FuzzyMatchSql,
    "q29_multimodal" -> q29MultimodalSql,
    "q30_explode_pages" -> q30ExplodePagesSql,
    "q38_extract_pages" -> q38ExtractPagesSql,
    "q39_template_stats" -> q39TemplateStatsSql,
    "q41_quality_hist" -> q41QualityHistSql,
    "q42_stream_extract" -> q42StreamExtractSql,
    "q43_csv_render" -> q43CsvRenderSql,
    "q44_stream_windowed" -> q44StreamWindowedSql,
    "q45_template_create" -> q45TemplateCreateSql,
    "q46_damaged_recovery" -> q46DamagedRecoverySql,
    "q47_redact" -> q47RedactSql,
    "q48_dialect_census" -> q48DialectCensusSql,
    "q49_outlinks" -> q49OutlinksSql,
    "q50_doc_meta" -> q50DocMetaSql,
    "q51_real_pdf_batch" -> q51RealPdfBatchSql,
    "q54_password_auth" -> q54PasswordAuthSql,
    "q55_jpx_routing" -> q55JpxRoutingSql)
}
