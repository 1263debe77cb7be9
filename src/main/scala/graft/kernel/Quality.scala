package graft.kernel

/** Post-extraction quality validation — re-expression of the reference's
  * QualityChecker (`quality.py:64-271`). Pure per-document kernel; fleet-level
  * rollups (avg score, failure rates) are plain Spark aggregations downstream.
  */
final class QualityChecker {

  private val emptyThreshold = 0.3       // quality.py:68
  private val confidenceThreshold = 70.0 // quality.py:69
  private val coverageThreshold = 0.5    // quality.py:70

  /** A8 — all checks + overall score, `check_extraction` quality.py:75-154. */
  def checkExtraction(
      cells: Vector[Vector[String]],
      extracted: Seq[TextItem]): QualityReport = {

    if (cells.isEmpty || cells.head.isEmpty) {
      // empty-frame short circuit, quality.py:94-106
      return ExtractedDoc.emptyQuality.copy(totalTextItems = extracted.length)
    }

    val warnings = Vector.newBuilder[String]

    val emptyRatio = checkEmptyCells(cells)
    if (emptyRatio > emptyThreshold)
      warnings += s"High empty ratio: ${Py.format1f(emptyRatio * 100)}%"

    val confidenceAvg = checkOcrConfidence(extracted)
    if (confidenceAvg < confidenceThreshold)
      warnings += s"Low OCR confidence: ${Py.format1f(confidenceAvg)}%"

    val rowConsistency = checkRowPatterns(cells)
    if (!rowConsistency) warnings += "Inconsistent row patterns"

    val columnAlignment = checkColumnConsistency(cells)
    if (!columnAlignment) warnings += "Poor column alignment"

    val textCoverage = checkCoverage(cells, extracted)
    if (textCoverage < coverageThreshold)
      warnings += s"Low coverage: ${Py.format1f(textCoverage * 100)}%"

    val columnTypes = inferColumnTypes(cells)

    // simple mean of 5 subscores ×100, quality.py:132-140
    val scores = Vector(
      math.max(0.0, 1.0 - (emptyRatio / emptyThreshold)),
      math.min(1.0, confidenceAvg / 100.0),
      if (rowConsistency) 1.0 else 0.0,
      if (columnAlignment) 1.0 else 0.0,
      math.min(1.0, textCoverage / coverageThreshold))
    val overallScore = scores.sum / scores.length * 100.0

    QualityReport(
      emptyRatio = emptyRatio,
      confidenceAvg = confidenceAvg,
      rowConsistency = rowConsistency,
      columnAlignment = columnAlignment,
      textCoverage = textCoverage,
      overallScore = overallScore,
      nRows = cells.length,
      nCols = cells.head.length,
      totalTextItems = extracted.length,
      columnTypes = columnTypes,
      warnings = warnings.result(),
      errors = Vector.empty)
  }

  /** A2 — empty-cell ratio, quality.py:156-162 (cells are never null here). */
  def checkEmptyCells(cells: Vector[Vector[String]]): Double = {
    val total = cells.length * cells.head.length
    if (total == 0) return 1.0
    val empty = cells.iterator.map(_.count(c => c == null || c == "")).sum
    empty.toDouble / total
  }

  /** A3 — mean confidence, quality.py:164-169. */
  def checkOcrConfidence(extracted: Seq[TextItem]): Double =
    if (extracted.isEmpty) 0.0
    else {
      var sum = 0 // a loop: the mapped iterator's `sum` boxes every value
      val it = extracted.iterator
      while (it.hasNext) sum += it.next().confidence
      sum.toDouble / extracted.length
    }

  /** The serving layer's SIMPLIFIED quality score (`app.py:184-196` — the
    * only quality variant the HTTP path actually computes): score =
    * `round((1 − empty_ratio) × 100, 1)`, empty counting nulls AND empty
    * strings over ALL cells, ratio 1.0 for an empty frame (→ score 0.0).
    * Distinct from [[checkEmptyCells]] ONLY in the final rounding/scaling —
    * kept as its own function because the reference exposes this number,
    * not the 5-metric report, to API clients. */
  def simplifiedScore(cells: Vector[Vector[String]]): Double = {
    val total = cells.iterator.map(_.length).sum
    val emptyRatio =
      if (total == 0) 1.0
      else cells.iterator.map(_.count(c => c == null || c == "")).sum.toDouble / total
    Py.round2((1.0 - emptyRatio) * 100.0, 1)
  }

  /** A4 — row-pattern consistency: ≤2 distinct non-empty counts,
    * quality.py:171-177. */
  def checkRowPatterns(cells: Vector[Vector[String]]): Boolean =
    cells.map(_.count(_ != "")).distinct.length <= 2

  /** A5 — column-fill consistency: ≤1 column with fill <0.1 or >0.9,
    * quality.py:179-201. */
  def checkColumnConsistency(cells: Vector[Vector[String]]): Boolean = {
    val nCols = cells.head.length
    val nRows = cells.length
    var extreme = 0
    var c = 0
    while (c < nCols) {
      var filled = 0
      var r = 0
      while (r < nRows) {
        val v = cells(r)(c)
        if (v != null && v != "") filled += 1
        r += 1
      }
      val ratio = filled.toDouble / nRows
      if (ratio < 0.1 || ratio > 0.9) extreme += 1
      c += 1
    }
    extreme <= 1
  }

  /** A6 — text coverage: |words(table) ∩ words(items)| / |words(items)|,
    * set semantics, lower-cased, CPython whitespace split, quality.py:203-223.
    * (java.util.HashSet + streaming split: membership-only sets, same values
    * as the immutable-Set formulation at a fraction of the allocation.) */
  def checkCoverage(cells: Vector[Vector[String]], extracted: Seq[TextItem]): Double = {
    val tableWords = new java.util.HashSet[String]()
    cells.foreach(_.foreach(c => addWords(c, tableWords)))
    val origWords = new java.util.HashSet[String]()
    extracted.foreach(i => addWords(i.text, origWords))
    if (origWords.isEmpty) 0.0
    else {
      var inter = 0
      val it = origWords.iterator()
      while (it.hasNext) if (tableWords.contains(it.next())) inter += 1
      inter.toDouble / origWords.size
    }
  }

  /** Lower-case + CPython whitespace-split `s` straight into `sink`. */
  private def addWords(s0: String, sink: java.util.HashSet[String]): Unit = {
    if (s0 == null) return
    val s = s0.toLowerCase
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && Py.isSpace(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !Py.isSpace(s.charAt(i))) i += 1
        sink.add(s.substring(start, i))
      }
    }
  }

  /** A7 — per-column logical type by 70% majority, priority
    * currency > numeric > date > text; all-blank → 'empty', quality.py:225-271. */
  def inferColumnTypes(cells: Vector[Vector[String]]): Vector[String] = {
    val nCols = cells.head.length
    (0 until nCols).map { c =>
      var nData = 0
      var numeric = 0; var currency = 0; var date = 0
      var r = 0
      while (r < cells.length) {
        val v = cells(r)(c)
        if (v != null && v != "") {
          nData += 1
          val s = Py.strip(v)
          if (hasCurrencyChar(s)) currency += 1
          else if (isNumericShape(s)) numeric += 1
          else if (isDateShape(s)) date += 1
        }
        r += 1
      }
      if (nData == 0) "empty"
      else {
        val total = nData.toDouble
        if (currency / total > 0.7) "currency"
        else if ((numeric + currency) / total > 0.7) "numeric"
        else if (date / total > 0.7) "date"
        else "text"
      }
    }.toVector
  }

  private def hasCurrencyChar(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '$' || ch == '£' || ch == '€' || ch == '¥') return true
      i += 1
    }
    false
  }

  /** ≡ `Py.isDigit(s.replace(",","").replace(".","").replace("-",""))`
    * without the three intermediate strings: every char is a digit or one of
    * `, . -`, and at least one digit exists. */
  private def isNumericShape(s: String): Boolean = {
    var digits = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (Character.isDigit(ch)) digits += 1
      else if (ch != ',' && ch != '.' && ch != '-') return false
      i += 1
    }
    digits > 0
  }

  /** ≡ `parts = s.replace('/','-').split("-",-1); parts.length==3 &&
    * parts.forall(Py.isDigit)` without allocating: exactly two separators
    * (either `/` or `-`) and each of the 3 segments nonempty all-digits. */
  private def isDateShape(s: String): Boolean = {
    if (s.indexOf('/') < 0 && s.indexOf('-') < 0) return false
    var seps = 0
    var segLen = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '/' || ch == '-') {
        if (segLen == 0) return false // empty segment → Py.isDigit("") false
        seps += 1
        if (seps > 2) return false
        segLen = 0
      } else if (Character.isDigit(ch)) segLen += 1
      else return false
      i += 1
    }
    seps == 2 && segLen > 0
  }
}
