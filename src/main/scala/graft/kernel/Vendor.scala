package graft.kernel

import scala.collection.mutable

/** Ratcliff-Obershelp sequence similarity — a faithful port of CPython
  * `difflib.SequenceMatcher.ratio()` for short strings (no junk, autojunk
  * irrelevant below 200 chars — vendor keys are tiny). Needed because the
  * reference's fuzzy template lookup (`template.py:189-193`) uses
  * `difflib.get_close_matches(..., cutoff=0.8)` and no Spark built-in
  * (levenshtein, soundex) is equivalent.
  */
object SeqMatcher {

  /** Total size of matching blocks between a and b (difflib algorithm:
    * recursively take the longest matching block, then match left/right). */
  def matchingSize(a: String, b: String): Int = {
    val b2j = mutable.HashMap.empty[Char, mutable.ArrayBuffer[Int]]
    var j = 0
    while (j < b.length) {
      b2j.getOrElseUpdate(b.charAt(j), mutable.ArrayBuffer.empty) += j
      j += 1
    }

    def findLongest(alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
      var besti = alo; var bestj = blo; var bestsize = 0
      var j2len = mutable.HashMap.empty[Int, Int]
      var i = alo
      while (i < ahi) {
        val newj2len = mutable.HashMap.empty[Int, Int]
        b2j.get(a.charAt(i)) match {
          case Some(indices) =>
            val it = indices.iterator
            var break = false
            while (it.hasNext && !break) {
              val jj = it.next()
              if (jj >= bhi) break = true
              else if (jj >= blo) {
                val k = j2len.getOrElse(jj - 1, 0) + 1
                newj2len(jj) = k
                if (k > bestsize) { besti = i - k + 1; bestj = jj - k + 1; bestsize = k }
              }
            }
          case None =>
        }
        j2len = newj2len
        i += 1
      }
      // extension loops (junk-free case), difflib find_longest_match tail
      while (besti > alo && bestj > blo && a.charAt(besti - 1) == b.charAt(bestj - 1)) {
        besti -= 1; bestj -= 1; bestsize += 1
      }
      while (besti + bestsize < ahi && bestj + bestsize < bhi &&
             a.charAt(besti + bestsize) == b.charAt(bestj + bestsize)) {
        bestsize += 1
      }
      (besti, bestj, bestsize)
    }

    var total = 0
    val queue = mutable.Stack((0, a.length, 0, b.length))
    while (queue.nonEmpty) {
      val (alo, ahi, blo, bhi) = queue.pop()
      val (i, jb, k) = findLongest(alo, ahi, blo, bhi)
      if (k > 0) {
        total += k
        if (alo < i && blo < jb) queue.push((alo, i, blo, jb))
        if (i + k < ahi && jb + k < bhi) queue.push((i + k, ahi, jb + k, bhi))
      }
    }
    total
  }

  /** `SequenceMatcher(None, a, b).ratio()` — 2*M / (|a|+|b|). */
  def ratio(a: String, b: String): Double = {
    val t = a.length + b.length
    if (t == 0) 1.0 else 2.0 * matchingSize(a, b) / t
  }

  /** `difflib.get_close_matches(word, possibilities, n, cutoff)` —
    * note difflib sets seq2=word, seq1=possibility, and breaks score ties by
    * tuple comparison (lexicographically larger string wins in nlargest). */
  def getCloseMatches(
      word: String, possibilities: Seq[String],
      n: Int = 3, cutoff: Double = 0.6): Vector[String] = {
    val scored = possibilities.iterator
      .map(p => (ratio(p, word), p))
      .filter(_._1 >= cutoff)
      .toVector
    scored.sortBy { case (r, p) => (-r, p) }(
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String.reverse))
      .take(n).map(_._2)
  }
}

/** Vendor auto-detection + template registry — the reference's
  * TemplateManager semantics (`template.py:88-306`) with templates held in an
  * immutable map (loaded once per job and shipped inside the extraction
  * expression, never shuffled — the J1 "template lookup join" is a map
  * lookup, SURVEY.md §2.5).
  */
object Vendor {

  /** Default keyword sets, `template.py:281-288` (insertion order matters for
    * the argmax tie-break — CPython dicts preserve it). */
  val defaultKeywords: Vector[(String, Vector[String])] = Vector(
    "amazon" -> Vector("amazon", "aws", "amzn"),
    "google" -> Vector("google", "gcp", "alphabet"),
    "microsoft" -> Vector("microsoft", "azure", "msft"),
    "apple" -> Vector("apple", "aapl", "iphone"),
    "walmart" -> Vector("walmart", "wmt"))

  /** The keyword sets the reference PIPELINE actually passes to A1
    * (`TableSlicerPipeline.DEFAULT_VENDOR_KEYWORDS`, `table_slicer.py:44-52`,
    * handed to `detect_vendor` at `table_slicer.py:122`). Counting lowercases
    * both sides, so these are ported verbatim (case preserved, like the
    * reference literal). */
  val pipelineKeywords: Vector[(String, Vector[String])] = Vector(
    "amazon" -> Vector("Amazon", "AWS", "Amazon Web Services", "AMZN"),
    "google" -> Vector("Google", "GCP", "Google Cloud", "Alphabet"),
    "microsoft" -> Vector("Microsoft", "Azure", "MSFT", "Office 365"),
    "apple" -> Vector("Apple", "AAPL", "iTunes", "App Store"),
    "walmart" -> Vector("Walmart", "WMT", "Sam's Club"),
    "target" -> Vector("Target", "TGT", "Target Corporation"))

  /** The keyword table [[graft.kernel.Extractor]] scores A1 against: one entry
    * per registry vendor keyed on its own name (so drawn templates are
    * detectable — the deliberate, tested deviation from the reference, whose
    * registry vendors have no keyword entries at all and fall back to an
    * interactive prompt), followed by the reference pipeline's curated sets
    * ([[pipelineKeywords]]) with first-wins argmax preserving registry
    * priority on ties. */
  def registryKeywords(templates: Map[String, Template]): Vector[(String, Vector[String])] = {
    // identity memo: the registry is one immutable map per task (it rides
    // in the task's copy of the expression), but this is called per document
    // (and per page in extractPages) — rebuilding the sorted keyword table
    // millions of times is pure waste
    val c = kwCache
    if (c != null && (c._1 eq templates)) c._2
    else {
      val v = templates.keys.toVector.sorted.map(v => v -> Vector(v)) ++
        pipelineKeywords.filterNot { case (v, _) => templates.contains(v) }
      kwCache = (templates, v)
      v
    }
  }

  @volatile private var kwCache: (Map[String, Template], Vector[(String, Vector[String])]) = null

  /** A1 — keyword-scoring vendor detection, `detect_vendor`
    * template.py:259-306: join text of first 50 items, lower-case, score by
    * non-overlapping substring count, argmax with first-wins tie-break. */
  def detectVendor(
      extracted: Seq[TextItem],
      vendorKeywords: Seq[(String, Seq[String])] = defaultKeywords): Option[String] = {
    if (extracted.isEmpty) return None
    val sample = extracted.take(50).map(_.text).mkString(" ").toLowerCase
    val scores = vendorKeywords.iterator.map { case (vendor, kws) =>
      vendor -> kws.iterator.map(k => Py.count(sample, k.toLowerCase)).sum
    }.filter(_._2 > 0).toVector
    if (scores.isEmpty) None
    else Some(scores.maxBy(_._2)._1) // first max wins, like CPython max(d, key=d.get)
  }

  /** The three shipped templates, verbatim from `vendor_templates.json:1-74`. */
  val builtinTemplates: Map[String, Template] = Vector(
    Template("test", Vector(50, 100, 500, 400), Vector(50, 200, 350, 500)),
    Template("sysco", Vector(260, 652, 4300, 2844),
      Vector(260, 292, 568, 708, 904, 2392, 2676, 2912, 3136, 3464, 4300)),
    Template("newark", Vector(35, 290, 1609, 1099),
      Vector(35, 130, 217, 300, 379, 464, 598, 766, 857, 935, 1040, 1165, 1244, 1331, 1418, 1524, 1609))
  ).flatMap(t => t.validated.map(v => t.vendor -> v)).toMap

  /** J1/J2 — exact then fuzzy template lookup, `get_template`
    * template.py:171-196. Deterministic iteration for the fuzzy candidate set:
    * sort keys (the reference iterates dict insertion order; our registry is a
    * map, so we fix a total order — recorded as a deliberate deviation that
    * only matters when two vendors tie at the same ratio). */
  def getTemplate(vendor: String, templates: Map[String, Template]): Option[Template] = {
    val key = Py.strip(vendor.toLowerCase)
    templates.get(key).orElse {
      SeqMatcher.getCloseMatches(key, templates.keys.toVector.sorted, n = 1, cutoff = 0.8)
        .headOption.flatMap(templates.get)
    }
  }
}
