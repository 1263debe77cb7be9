package graft.spark

import graft.kernel.{Corpus, Extractor, Multimodal}
import graft.tools.GenGoldenExtract
import graft.tools.GenGoldenExtract.md5hex

/** Drift gate for the committed extraction goldens (`data/golden_*.parquet`,
  * written by [[graft.tools.GenGoldenExtract]]): the live kernel must still
  * produce EXACTLY what the goldens record, else the extraction-family DuckDB
  * oracles (q25–q29, q38) would silently diverge. Fails loudly with the
  * regeneration command. */
class GoldenExtractSpec extends SparkTestBase {

  private val hint = "kernel semantics changed — regenerate goldens: " +
    "sbt -batch \"runMain graft.tools.GenGoldenExtract\""

  test("golden_docs matches the live kernel on a sample") {
    val g = spark.read.parquet("data/golden_docs.parquet")
      .filter("idx < 300 or idx >= 19700").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(g.size == 600, "golden_docs must cover idx < 20000")
    g.foreach { case (i, r) =>
      val p = Corpus.page(i)
      val d = Extractor.extract(p.url, p.html, p.text, p.lang)
      val csv = graft.kernel.Csv.render(d.cells)
      val red = graft.kernel.Redact(d.extractedText)
      assert(r.getString(1) == d.url && r.getString(2) == d.route &&
        r.getString(3) == d.vendor && r.getString(4) == d.failure &&
        r.getInt(5) == d.nItems && r.getInt(6) == d.nPages &&
        r.getInt(7) == d.extractedText.length &&
        r.getString(8) == md5hex(d.extractedText) &&
        r.getDouble(9) == d.quality.overallScore &&
        r.getString(10) == md5hex(csv) && r.getInt(11) == csv.length &&
        r.getInt(12) == red.nPrice && r.getInt(13) == red.nDate &&
        r.getInt(14) == red.nAcct && r.getString(15) == md5hex(red.text),
        s"idx=$i drifted from golden_docs — $hint")
    }
  }

  test("golden_pages matches live per-page extraction on a sample") {
    val g = spark.read.parquet("data/golden_pages.parquet")
      .filter("idx < 200").collect()
      .groupBy(_.getLong(0))
    g.foreach { case (i, rows) =>
      val p = Corpus.page(i)
      val pages = Extractor.extractPages(p.url, p.html, p.text, p.lang)
      assert(rows.length == pages.length, s"idx=$i page count — $hint")
      rows.sortBy(_.getInt(2)).zip(pages).foreach { case (r, pe) =>
        assert(r.getInt(2) == pe.page && r.getInt(3) == pe.nItems &&
          r.getInt(4) == pe.text.length && r.getString(5) == md5hex(pe.text),
          s"idx=$i page=${pe.page} drifted — $hint")
      }
    }
    // multi-page docs actually exist in the sampled range
    assert(g.exists(_._2.length > 1), "corpus lost its multi-page documents")
  }

  test("golden_items matches both live PDF routes on every row") {
    val g = spark.read.parquet("data/golden_items.parquet")
    val live = spark.createDataFrame(spark.sparkContext
      .range(0L, 20000L, 1L, 16).flatMap(GenGoldenExtract.itemRows))
      .toDF(GenGoldenExtract.ItemColumns: _*)
    assert(g.columns.toSeq == GenGoldenExtract.ItemColumns)
    assert(g.count() == live.count(), s"golden_items row count — $hint")
    val drift = g.exceptAll(live).union(live.exceptAll(g))
      .select("idx", "route").limit(10).collect().map(r => s"${r.get(0)}/${r.get(1)}")
    assert(drift.isEmpty, s"rows drifted from golden_items: ${drift.mkString(", ")} — $hint")
  }

  test("golden_media matches live decode on a sample") {
    val g = spark.read.parquet("data/golden_media.parquet")
      .filter("idx < 300").collect()
    assert(g.length == 300)
    g.foreach { r =>
      val i = r.getLong(0)
      val m = Multimodal.decode(i, Multimodal.blob(i))
      assert(r.getString(1) == m.format && r.getInt(2) == m.channels &&
        r.getLong(3) == m.nBytes && r.getInt(4) == m.width &&
        r.getInt(5) == m.height && r.getString(6) == m.failure,
        s"idx=$i drifted from golden_media — $hint")
    }
  }

  test("page 1 of extract_pages equals the per-document extraction") {
    for (i <- 0L until 120L) {
      val p = Corpus.page(i)
      val doc = Extractor.extract(p.url, p.html, p.text, p.lang)
      val pages = Extractor.extractPages(p.url, p.html, p.text, p.lang)
      if (doc.failure.isEmpty) {
        assert(pages.nonEmpty && pages.head.page == 1)
        assert(pages.head.text == doc.extractedText,
          s"idx=$i: page-1 text diverges from the document text")
      } else assert(pages.isEmpty)
    }
  }
}
