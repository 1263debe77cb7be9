package graft.spark

/** spark-submit entry point for the extraction job (the north rule's
  * deployment surface):
  *
  * {{{
  * spark-submit --class graft.spark.ExtractMain \
  *   target/scala-2.13/pdf_extractorspark_2.13-0.1.0.jar \
  *   --input synth:100000 --out /data/extracted --run-id r1 \
  *   [--buckets 64] [--partitions 0] [--resume] [--templates registry.json]
  * }}}
  *
  * `--input` is either `synth:N` (deterministic corpus, benchmarking) or a
  * path to a parquet/Iceberg-shaped table with the input_hint schema
  * `(url, warc_ts, html, text, lang)`. `--templates` points at a JSON
  * registry (`vendor_templates.json` shape, S7) loaded + validated on the
  * driver via [[graft.kernel.TemplateStore.load]] and serialized into the
  * job's `extract_doc` expression; without it the builtin registry ships.
  * Master/executor topology comes from spark-submit itself (`--master`,
  * `--num-executors`, …), which is how the N vs 4N cluster-size comparison
  * is driven on a real cluster. The session is [[Engine.session]]'s: UTC
  * session time zone, the kernel's SQL functions ([[graft.functions.GraftExtensions]]),
  * no UI, 8 KiB stream buffers (`spark.buffer.size`, which sizes the docs
  * write's per-page compressor buffer) and one shuffle partition per core of
  * the master, each unless the deployment sets it (`--conf
  * spark.ui.enabled=true` brings the UI back).
  * Any flag other than the six above and `--resume` is an error.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val input = opts.getOrElse("input", sys.error("--input required (synth:N or path)"))
    val out = opts.getOrElse("out", sys.error("--out required"))
    val runId = opts.getOrElse("run-id", "run-" + java.util.UUID.randomUUID().toString.take(8))
    val buckets = opts.getOrElse("buckets", "64").toInt
    val partitions = opts.getOrElse("partitions", "0").toInt
    val resume = opts.contains("resume")

    val spark = Engine.session(None)

    val pages =
      if (input.startsWith("synth:"))
        ExtractPipeline.pages(spark, input.stripPrefix("synth:").toLong).toDF()
      else spark.read.parquet(input)

    val templates = opts.get("templates") match {
      case Some(path) =>
        val loaded = graft.kernel.TemplateStore.load(path)
        require(loaded.nonEmpty, s"no valid templates in $path")
        loaded
      case None => graft.kernel.Vendor.builtinTemplates
    }

    val m = ExtractJob.run(spark, pages, out, runId,
      nBuckets = buckets, numPartitions = partitions, resume = resume,
      templates = templates)
    // one machine-readable summary line (same shape Bench uses)
    println(
      f"""{"runId":"$runId","docs":${m.docs},"bytes":${m.bytes},"okDocs":${m.okDocs},""" +
      f""""failedDocs":${m.failedDocs},"emptyDocs":${m.emptyDocs},""" +
      f""""wallSec":${m.wallSec}%.2f,"docsPerSec":${m.docsPerSec}%.1f,"mbPerSec":${m.mbPerSec}%.2f}""")
    spark.stop()
  }

  private val Flags = Set("input", "out", "run-id", "buckets", "partitions", "templates")

  @annotation.tailrec
  private[spark] def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case "--resume" :: rest => parse(rest, acc + ("resume" -> "true"))
      case k :: v :: rest if k.startsWith("--") && Flags(k.drop(2)) =>
        parse(rest, acc + (k.drop(2) -> v))
      case other :: _ => sys.error(s"unrecognized argument: $other")
    }
}
