package graft.kernel

/** Python-string-semantics compatibility layer.
  *
  * The reference pipeline (omnislash157/pdf_extractor) is Python; its observable
  * output bytes depend on CPython string semantics (`str.strip`, `str.split`,
  * `statistics.median`, `str.count`, `str.isdigit`). Java's equivalents differ in
  * whitespace classes and median interpolation, so byte-parity requires explicit
  * ports. Each function cites the reference call site it exists for.
  */
object Py {

  /** Characters for which CPython `str.isspace()` is true (Unicode WS + bidi WS/B/S).
    * Java `Character.isWhitespace` differs (e.g. U+00A0 NBSP, U+0085 NEL). */
  def isSpace(c: Char): Boolean = {
    val i = c.toInt
    (i >= 0x09 && i <= 0x0d) ||      // \t \n \v \f \r
    i == 0x20 ||                     // space
    (i >= 0x1c && i <= 0x1f) ||      // FS GS RS US
    i == 0x85 || i == 0xa0 ||        // NEL, NBSP
    i == 0x1680 ||                   // ogham space
    (i >= 0x2000 && i <= 0x200a) ||  // en/em/thin spaces
    i == 0x2028 || i == 0x2029 ||    // line/para separator
    i == 0x202f || i == 0x205f ||    // narrow nbsp, math space
    i == 0x3000                      // ideographic space
  }

  /** CPython `str.strip()` with no args — strips `isSpace` chars from both ends.
    * Used at reference `slicer.py:295`, `extract.py:154`, `smart_extract.py:80`. */
  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isSpace(s.charAt(i))) i += 1
    while (j > i && isSpace(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** CPython `str.split()` with no args — split on runs of whitespace, drop
    * empty tokens. Used at `slicer.py:229`, `quality.py:208,213`. With
    * `limit`, only the first `limit` tokens (`split(s).take(limit)`), and the
    * rest of `s` is not scanned. */
  def split(s: String, limit: Int = Int.MaxValue): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = s.length
    var taken = 0
    while (i < n && taken < limit) {
      while (i < n && isSpace(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isSpace(s.charAt(i))) i += 1
        out += s.substring(start, i)
        taken += 1
      }
    }
    out.result()
  }

  /** CPython `str.isdigit()` restricted to the data domain (ASCII + Nd).
    * Used by the column-type inference at `quality.py:251,256`. */
  def isDigit(s: String): Boolean =
    s.nonEmpty && s.forall(c => Character.isDigit(c))

  /** CPython `statistics.median` — exact, averages the two middle values on
    * even n (reference `slicer.py:145`). `percentile_approx` is NOT byte-compatible. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    require(n > 0, "median of empty sequence")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** CPython `format(x, '.1f')` — correctly-rounded decimal of the binary
    * double with ROUND_HALF_EVEN (Java's `%.1f` rounds HALF_UP and diverges,
    * e.g. 81.25 → "81.3" vs Python "81.2"). Used for the reference's quality
    * warning strings (`quality.py:111,115,127`). */
  /** CPython `round(x, ndigits)` — correctly-rounded half-to-EVEN on the
    * EXACT binary value (not the half-up of `"%.1f"`): round(0.25, 1) ==
    * 0.2 (true tie, even), round(0.35, 1) == 0.3 (0.35 stores just BELOW
    * the midpoint). BigDecimal-of-double is that exact value, so HALF_EVEN
    * reproduces both. */
  def round2(x: Double, ndigits: Int): Double =
    // new java.math.BigDecimal(double) is the EXACT binary value;
    // scala.BigDecimal(double) would go through valueOf (the shortest
    // string), which turns 0.35 into a true .5 tie and rounds the wrong way
    new java.math.BigDecimal(x)
      .setScale(ndigits, java.math.RoundingMode.HALF_EVEN).doubleValue()

  def format1f(x: Double): String =
    new java.math.BigDecimal(x)
      .setScale(1, java.math.RoundingMode.HALF_EVEN)
      .toPlainString

  /** CPython `str.count(sub)` — non-overlapping occurrence count
    * (reference `template.py:294`). Empty needle counts len+1 like CPython. */
  def count(haystack: String, needle: String): Int = {
    if (needle.isEmpty) return haystack.length + 1
    var n = 0
    var i = haystack.indexOf(needle)
    while (i >= 0) { n += 1; i = haystack.indexOf(needle, i + needle.length) }
    n
  }
}
