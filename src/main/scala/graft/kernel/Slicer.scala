package graft.kernel

import java.util.regex.Pattern
import scala.collection.mutable

/** Geometry slicer: bins positioned text items into a rows×columns grid.
  *
  * Faithful re-expression of the reference's core algorithm
  * (`slicer.py:46-400`) as a pure, dependency-free kernel. It runs per
  * document inside one Spark row — it is deliberately NOT a Spark aggregation:
  * the row clustering (G2) and partial-row merge (G7) are order-dependent
  * folds over running state that stateless window functions cannot express
  * (SURVEY.md §2.9), and per-document data is tiny (hundreds of items).
  *
  * Byte-parity traps handled (SURVEY.md §7.5):
  *  - float accumulation order preserved exactly (weighted mean `slicer.py:168-169`,
  *    proportional split `slicer.py:239-269`);
  *  - stable sorts (Scala `sortBy` is stable, like CPython `sorted`);
  *  - CPython `str.split()`/`strip()` via [[Py]];
  *  - `statistics.median` even-n averaging via [[Py.median]].
  */
final class Slicer(
    val defaultRowThreshold: Double = 30.0) { // slicer.py:21 (pipeline passes 20: table_slicer.py:57)

  private val bufferFactor = 1.2 // slicer.py:23

  // Protected (unsplittable) patterns — slicer.py:41-44. Java regex syntax is
  // compatible for these four; re.match ≙ anchored find.
  private val datePattern = Pattern.compile("^\\d{1,2}/\\d{1,2}/\\d{2,4}$")
  private val codePattern = Pattern.compile("^[A-Z]{2,}[-]?\\d+$")
  private val pricePattern = Pattern.compile("^\\$?\\d+\\.?\\d{0,2}$")
  private val itemCodePattern = Pattern.compile("^[A-Z0-9]+-[A-Z0-9]+$")

  /** G9 orchestrator — `slice_to_table`, slicer.py:46-104.
    * Sentinel one-cell grids on empty branches are part of the observable
    * contract (byte-compared), slicer.py:69,76,89. */
  def sliceToTable(
      extracted: Seq[TextItem],
      tableBox: Seq[Int],
      columns: Seq[Int],
      page: Option[Int] = None): Vector[Vector[String]] = {

    // F1 page filter, slicer.py:64-69
    val pageFiltered = page match {
      case Some(p) =>
        val f = extracted.filter(_.page == p)
        if (f.isEmpty) return Vector(Vector(s"No text found on page $p"))
        f
      case None => extracted
    }

    // F2 box filter, slicer.py:72-76
    val inBox = filterInBox(pageFiltered, tableBox)
    if (inBox.isEmpty) return Vector(Vector("No text found in table region"))

    // G1, slicer.py:79-82
    val rowThreshold = getAdaptiveRowThreshold(inBox)

    // G2, slicer.py:85-89
    val rows = groupIntoRows(inBox, rowThreshold)
    if (rows.isEmpty) return Vector(Vector("Unable to form rows from text"))

    // G6, slicer.py:92
    val tableData = binIntoColumnsWithSplitting(rows, columns)

    // G8 pad + G7 merge, slicer.py:95-102
    if (tableData.nonEmpty) {
      val maxCols = tableData.map(_.length).max
      tableData.foreach { row => while (row.length < maxCols) row += "" }
      mergePartialRows(tableData).map(_.toVector).toVector
    } else tableData.map(_.toVector).toVector
  }

  /** F2 — center-point box containment, slicer.py:106-121. */
  def filterInBox(extracted: Seq[TextItem], tableBox: Seq[Int]): Seq[TextItem] = {
    val Seq(x1, y1, x2, y2) = tableBox.toSeq
    extracted.filter { item =>
      val cx = item.x + item.width / 2.0
      val cy = item.y + item.height / 2.0
      x1 <= cx && cx <= x2 && y1 <= cy && cy <= y2
    }
  }

  /** G1 — adaptive row threshold from median y-gaps, slicer.py:123-150. */
  def getAdaptiveRowThreshold(
      textBoxes: Seq[TextItem],
      minGap: Double = 5.0,
      maxThreshold: Double = 50.0): Double = {
    if (textBoxes.isEmpty) return defaultRowThreshold
    val yCoords = textBoxes.map(_.y).distinct.sorted
    if (yCoords.length < 2) return defaultRowThreshold
    val gaps = yCoords.sliding(2).map(p => (p(1) - p(0)).toDouble).toVector
    val significant = gaps.filter(_ >= minGap)
    if (significant.isEmpty) return defaultRowThreshold
    val medianGap = Py.median(significant)
    val t = medianGap * bufferFactor
    math.min(math.max(t, minGap), maxThreshold)
  }

  /** G2 — 1-D sessionize on y with width-weighted running row mean,
    * slicer.py:152-179. Order-dependent fold; accumulation order preserved. */
  def groupIntoRows(items: Seq[TextItem], rowThreshold: Double): Vector[Vector[TextItem]] = {
    if (items.isEmpty) return Vector.empty
    val sorted = items.sortBy(_.y) // stable, like CPython sorted
    val rows = Vector.newBuilder[Vector[TextItem]]
    var currentRow = mutable.ArrayBuffer(sorted.head)
    var currentRowY: Double = sorted.head.y.toDouble
    // Running sums ≡ the reference's per-append fresh sums (slicer.py:168-169):
    // members are only appended at the end, so incremental accumulation
    // performs the identical addition sequence → bit-identical doubles,
    // without the O(rowLen²) rescan.
    var totalWidth: Double = sorted.head.width
    var weighted: Double = sorted.head.y.toDouble * sorted.head.width
    for (item <- sorted.tail) {
      if (math.abs(item.y - currentRowY) <= rowThreshold) {
        currentRow += item
        totalWidth += item.width
        weighted += item.y.toDouble * item.width
        // CPython raises ZeroDivisionError when a row holds only zero-width
        // items (slicer.py:169); Scala 0.0/0.0 would silently NaN. Mirror the
        // raise — upstream turns it into a failure-taxonomy row.
        if (totalWidth == 0.0)
          throw new ArithmeticException("division by zero: all-zero-width row")
        currentRowY = weighted / totalWidth
      } else {
        rows += currentRow.toVector
        currentRow = mutable.ArrayBuffer(item)
        currentRowY = item.y.toDouble
        totalWidth = item.width
        weighted = item.y.toDouble * item.width
      }
    }
    if (currentRow.nonEmpty) rows += currentRow.toVector
    rows.result()
  }

  /** G4 — splittability classifier, slicer.py:181-194. Note: the whitespace
    * test is a literal ASCII space (`' ' in text`), not any-whitespace. */
  def isSplittableText(text: String): Boolean = {
    if (datePattern.matcher(text).find() ||
        codePattern.matcher(text).find() ||
        pricePattern.matcher(text).find() ||
        itemCodePattern.matcher(text).find()) false
    else text.contains(' ')
  }

  /** G5 — proportional split of a wide span across columns, slicer.py:221-272.
    * The trickiest parity function: char-proportional widths accumulated
    * strictly left-to-right; token-center column rule `[left, right)`; nearest
    * overlapping column as fallback (first minimum wins, like CPython `min`).
    * Each token goes straight to `binAdd(col, token)`: the reference's
    * per-column join with " " and the bin-level join with " " compose to the
    * same string whether tokens arrive joined or one at a time, and columns
    * are independent bins so emission order across columns is immaterial.
    * The overlapping-column set of a span is CONTIGUOUS (`columns` is
    * ascending), so it travels as the `[cLo, cHi]` range the caller already
    * computed in its span walk. */
  private def splitTextInto(
      text: String, leftX: Int, width: Int,
      cLo: Int, cHi: Int, columns: Seq[Int],
      binAdd: (Int, String) => Unit): Unit = {
    // Py.split without the Vector: walk whitespace-delimited runs twice
    // (once for the length sum, once to assign)
    val n = text.length
    var totalLength = 0
    var i = 0
    while (i < n) {
      while (i < n && Py.isSpace(text.charAt(i))) i += 1
      val start = i
      while (i < n && !Py.isSpace(text.charAt(i))) i += 1
      totalLength += i - start
    }
    if (totalLength == 0) return
    val pixelsPerChar = width.toDouble / totalLength

    var currentX: Double = leftX.toDouble
    i = 0
    while (i < n) {
      while (i < n && Py.isSpace(text.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !Py.isSpace(text.charAt(i))) i += 1
        val tokLen = i - start
        val tokenWidth = tokLen * pixelsPerChar
        val tokenCenter = currentX + tokenWidth / 2
        var assigned = -1
        var c = cLo
        while (assigned < 0 && c <= cHi) {
          if (columns(c) <= tokenCenter && tokenCenter < columns(c + 1)) assigned = c
          c += 1
        }
        if (assigned < 0) {
          // first minimal distance wins (CPython min stability), slicer.py:263-264
          var bestCol = cLo
          var bestDist = math.abs(tokenCenter - (columns(cLo) + columns(cLo + 1)) / 2.0)
          c = cLo + 1
          while (c <= cHi) {
            val d = math.abs(tokenCenter - (columns(c) + columns(c + 1)) / 2.0)
            if (d < bestDist) { bestDist = d; bestCol = c }
            c += 1
          }
          assigned = bestCol
        }
        binAdd(assigned, text.substring(start, i))
        currentX += tokenWidth
      }
    }
  }

  /** G6 — column binning with splitting, slicer.py:274-376.
    * Returns mutable rows (padded by the caller, as in the reference). */
  def binIntoColumnsWithSplitting(
      rows: Seq[Seq[TextItem]], columns: Seq[Int]): mutable.ArrayBuffer[mutable.ArrayBuffer[String]] = {

    val tableData = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
    if (columns == null || columns.length < 2) {
      // single-column degenerate case, slicer.py:283-285
      for (row <- rows)
        tableData += mutable.ArrayBuffer(row.map(_.text).mkString(" "))
      return tableData
    }
    val numCols = columns.length - 1
    // reused per row: bins as plain strings (" "-joined on append — byte-
    // identical to the reference's per-bin list + ' '.join, since appends
    // happen in the same left-to-right order), null = untouched bin. The
    // previous shape allocated numCols ArrayBuffers + mkString builders per
    // row; most bins hold 0 or 1 item, so plain concat allocates strictly
    // less (ProfileAlloc: slice was the kernel's top allocator).
    val colBins = new Array[String](numCols)
    @inline def binAdd(c: Int, text: String): Unit =
      colBins(c) = if (colBins(c) == null) text else colBins(c) + " " + text
    // reusable scratch for the per-row x-sort: java.util.Arrays.sort on
    // objects is TimSort — stable exactly like Vector.sortBy/CPython sorted
    var scratch = new Array[TextItem](16)
    val byX: java.util.Comparator[TextItem] =
      (a: TextItem, b: TextItem) => Integer.compare(a.x, b.x)

    for (row <- rows) {
      val m = row.length
      if (scratch.length < m) scratch = new Array[TextItem](m * 2)
      var si = 0
      row.foreach { it => scratch(si) = it; si += 1 }
      java.util.Arrays.sort(scratch, 0, m, byX)
      java.util.Arrays.fill(colBins.asInstanceOf[Array[AnyRef]], null)

      var ri = 0
      while (ri < m) {
        val item = scratch(ri)
        ri += 1
        val text = Py.strip(item.text)
        if (text.nonEmpty) {
          val leftX = item.x
          val width = item.width

          if (width == 0) {
            // zero-width positional bin with edge clamps, slicer.py:303-313
            var c = 0
            var placed = false
            while (!placed && c < numCols) {
              if (columns(c) <= leftX && leftX < columns(c + 1)) {
                binAdd(c, text); placed = true
              }
              c += 1
            }
            if (!placed) {
              if (leftX < columns.head) binAdd(0, text)
              else if (leftX >= columns.last) binAdd(numCols - 1, text)
            }
          } else {
            // G3 column spans + overlap ratios (slicer.py:196-219) as one
            // scalar walk: tracks the overlap count, the first overlapping
            // column, and the best-by-ratio column (strict >, so the FIRST
            // max wins exactly like list.index(max), slicer.py:345-348)
            val rightX = leftX + width
            var nOverlap = 0
            var bestCol = -1
            var bestRatio = 0.0
            var cFirst = -1
            var cLast = -1
            var c = 0
            while (c < numCols) {
              val overlap = math.max(0, math.min(rightX, columns(c + 1)) - math.max(leftX, columns(c)))
              if (overlap > 0) {
                val ratio = if (width > 0) overlap.toDouble / width else 0.0
                if (bestCol < 0 || ratio > bestRatio) { bestCol = c; bestRatio = ratio }
                if (nOverlap == 0) cFirst = c
                cLast = c
                nOverlap += 1
              }
              c += 1
            }
            if (nOverlap > 1 && isSplittableText(text)) {
              // G5 split, slicer.py:322-337 — streamed token-by-token
              // (overlapping cols are the contiguous range [cFirst, cLast])
              splitTextInto(text, leftX, width, cFirst, cLast, columns, binAdd)
            } else if (nOverlap > 0) {
              binAdd(bestCol, text)
            } else {
              // no overlap → positional fallback (no edge clamp here),
              // slicer.py:355-359
              var c = 0
              var placed = false
              while (!placed && c < numCols) {
                if (columns(c) <= leftX && leftX < columns(c + 1)) {
                  binAdd(c, text); placed = true
                }
                c += 1
              }
            }
          }
        }
      }
      val out = new mutable.ArrayBuffer[String](numCols)
      var c = 0
      while (c < numCols) { out += (if (colBins(c) == null) "" else colBins(c)); c += 1 }
      tableData += out
    }
    tableData
  }

  /** G7 — partial-row merge: rows with <minColumns filled cells fold cell-wise
    * into the previous kept row, slicer.py:378-400. Order-dependent. */
  def mergePartialRows(
      tableData: mutable.ArrayBuffer[mutable.ArrayBuffer[String]],
      minColumns: Int = 4): mutable.ArrayBuffer[mutable.ArrayBuffer[String]] = {
    if (tableData.isEmpty) return tableData
    val cleaned = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
    for (row <- tableData) {
      val filled = row.count(c => Py.strip(c).nonEmpty)
      if (filled < minColumns && cleaned.nonEmpty) {
        val prev = cleaned.last
        var j = 0
        while (j < row.length) {
          val cell = row(j)
          if (Py.strip(cell).nonEmpty) {
            if (prev(j).nonEmpty) prev(j) = prev(j) + " " + Py.strip(cell)
            else prev(j) = Py.strip(cell)
          }
          j += 1
        }
      } else cleaned += row
    }
    cleaned
  }
}
