package graft.operators

import graft.SparkEntry
import graft.kernel.Multimodal
import graft.spark.SparkTestBase

/** Gate on the driver-contract operator catalog: every query runs green on
  * the smallest testdata scale, is deterministic across runs, and the
  * catalog/oracle maps stay consistent. Value-level correctness vs DuckDB is
  * the driver's gate (locally: tools/check_oracle.py); this spec catches
  * breakage before it gets there.
  */
class OperatorCatalogSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("every oracle key has a query, and names are well-formed") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    assert(qs.keySet.forall(_.matches("[a-z0-9_]+")))
    assert(qs.size >= 30, s"expected >=30 catalog entries, got ${qs.size}")
  }

  test("all catalog queries run and return rows on sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val n = df.count()
        // q5 (anti-join) may legitimately be small; everything else must
        // produce at least one row to be a meaningful demo
        if (n == 0 && name != "q5_anti_join") Some(s"$name: 0 rows") else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("extraction text hashes are identical across independent runs") {
    val a = SparkEntry.queries("q26_extract_text_hash")(spark, sfDir).collect()
    val b = SparkEntry.queries("q26_extract_text_hash")(spark, sfDir).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.length == 200)
  }

  test("expression surface and mapPartitions surface agree on routing totals") {
    // q27 extracts one page per documents row (sf0.001 → 500)
    val viaExpr = SparkEntry.queries("q27_extract_expr")(spark, sfDir)
      .selectExpr("sum(n)").collect()(0).getLong(0)
    assert(viaExpr == 500L)
  }

  test("fuzzy match resolves misspellings at difflib cutoff semantics") {
    val rows = SparkEntry.queries("q28_fuzzy_match")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("newark") == "newark")
    assert(rows("newrak") == "newark") // transposition stays >= 0.8
    assert(rows("syscoo") == "sysco")
    assert(rows("tets") == "")         // ratio 0.75 < cutoff (difflib parity)
    assert(rows("driscoll") == "")     // nothing close
    assert(rows("amazn") == "")
  }

  test("expression path values equal typed-encoder path values") {
    import graft.spark.ExtractPipeline
    val pages = ExtractPipeline.pages(spark, 150).toDF()
    val viaExpr = ExtractPipeline.extractDf(pages)
      .orderBy("url").collect()
    val viaTyped = ExtractPipeline
      .extract(ExtractPipeline.pages(spark, 150))
      .toDF().orderBy("url").collect()
    assert(viaExpr.length == 150)
    viaExpr.zip(viaTyped).foreach { case (a, b) =>
      assert(a.toString == b.toString, s"row mismatch: $a vs $b")
    }
  }

  test("multimodal decode: deterministic, failure taxonomy on garbage") {
    val m1 = Multimodal.decode(7, Multimodal.blob(7))
    val m2 = Multimodal.decode(7, Multimodal.blob(7))
    assert(m1 == m2)
    assert(m1.failure.isEmpty && m1.width >= 8 && m1.channels >= 1)
    assert(m1.features.length == m1.channels)
    assert(Multimodal.decode(1, Array[Byte](1, 2)).failure == "truncated")
    assert(Multimodal.decode(1, "notmagicbytes!!".getBytes).failure == "bad_magic")
    assert(Multimodal.decode(1, null).failure == "truncated")
  }

  test("minhash LSH candidates are a superset of high-jaccard ngram pairs") {
    import spark.implicits._
    // any pair the exact ngram query scores with jaccard >= 0.5 must be
    // recalled by the b=4/r=2 banding (P = 1-(1-j^2)^4; exact duplicates have
    // identical signatures so j=1 pairs are recalled with certainty, and with
    // the deterministic corpus the whole check is exact, not probabilistic,
    // per run)
    val exact = SparkEntry.queries("q19_dedup_ngram")(spark, sfDir)
      .filter($"jaccard" >= 0.5).select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = SparkEntry.queries("q20_minhash_lsh")(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh).take(5)}")
  }

  test("bucketed near-dup pairs are exact-cosine verified (subset of all-pairs)") {
    import spark.implicits._
    // driver-side brute force over the small sf: every q24 pair must appear in
    // the full same-label pair set with the identical rounded cosine — the
    // candidate stage may lose recall (documented), never precision
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e4) / 1e4
    }
    val brute = (for {
      (ia, la, va) <- vecs; (ib, lb, vb) <- vecs
      if la == lb && ia < ib
    } yield (la, ia, ib) -> cos(va, vb)).toMap
    val got = SparkEntry.queries("q24_emb_neardup")(spark, sfDir)
      .select("label", "id_a", "id_b", "sim").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val k = (r.getInt(0), r.getLong(1), r.getLong(2))
      val sim = r.getDouble(3)
      assert(sim >= 0.25 && math.abs(brute(k) - sim) < 1e-9,
        s"pair $k: got $sim, brute ${brute.get(k)}")
    }
  }

  test("brute-force topk and LSH ANN agree on ranking within the query bucket") {
    import spark.implicits._
    val brute = SparkEntry.queries("q22_cosine_topk")(spark, sfDir)
      .select("vec_id", "sim").as[(Long, Double)].collect()
    val lsh = SparkEntry.queries("q23_ann_lsh")(spark, sfDir)
      .select("vec_id", "sim").as[(Long, Double)].collect()
    // every LSH hit's similarity must be <= the brute-force best
    assert(lsh.forall(_._2 <= brute.head._2 + 1e-9))
    // sims agree where ids overlap
    val bm = brute.toMap
    lsh.foreach { case (id, s) => bm.get(id).foreach(bs => assert(math.abs(bs - s) < 1e-9)) }
  }
}
