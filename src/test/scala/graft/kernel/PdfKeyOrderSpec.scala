package graft.kernel

import org.scalatest.funsuite.AnyFunSuite

/** Dictionary entry order is irrelevant to a dictionary's meaning (ISO
  * 32000-1 §7.3.7). Every corpus PDF below is re-read with the entries of
  * each of its dicts shuffled, and every reader must give the same answer. */
class PdfKeyOrderSpec extends AnyFunSuite {

  /** Corpus pages below this index: their PDFs carry every dialect tag. */
  private val CorpusPrefix = 400
  /** Shuffles per PDF. */
  private val Seeds = 4

  test("shuffling dict entries changes nothing any PDF reader returns") {
    val pdfs = (0 until CorpusPrefix).map(i => Corpus.page(i.toLong).html)
      .zipWithIndex.filter(p => PdfLite.isPdf(p._1))
    val tags = pdfs.flatMap(p => PdfLite.dialect(p._1).split(',')).toSet
    val wanted = Set("enc:rc4", "enc:aes128", "enc:aes256", "xref:table",
      "xref:stream", "xref:none", "objstm", "formxobj", "font:cid",
      "font:tounicode", "font:winansi", "font:diffs", "font:ttf", "font:cff",
      "links", "infodict", "multipage", "rotate", "img:jpeg", "img:g4",
      "img:jbig2", "img:marker", "flate", "lzw", "asciihex", "ascii85", "rle")
    assert(wanted.subsetOf(tags), s"not covered: ${wanted -- tags}")
    for ((pdf, i) <- pdfs) {
      val shuffles = (0 until Seeds).map(k => PdfKeyOrderSpec.shuffleDicts(pdf, seed = i * Seeds + k))
      assert(shuffles.forall(_.length == pdf.length))
      assert(shuffles.exists(!_.sameElements(pdf)), s"page $i: nothing shuffled")
      for ((shuffled, k) <- shuffles.zipWithIndex) {
        def same[T](what: String, read: Array[Byte] => T): Unit =
          assert(read(shuffled) == read(pdf), s"page $i, shuffle $k: $what differs")
        same("parse", PdfLite.parse(_))
        same("parseNative", PdfLite.parseNative(_))
        same("docInfo", PdfLite.docInfo)
        same("links", PdfLite.links)
        same("dialect", PdfLite.dialect)
      }
    }
  }
}

object PdfKeyOrderSpec {

  private val Latin1 = "ISO-8859-1"
  private val Header = java.util.regex.Pattern.compile("\\d+\\s+\\d+\\s+obj\\b|trailer")
  private val Atom = java.util.regex.Pattern
    .compile("\\d+\\s+\\d+\\s+R(?![^\\s/<>\\[\\]()])|[^\\s/<>\\[\\]()]+")

  /** `pdf` with every `<<…>>` dict outside stream data — each object's dict,
    * the dicts nested in it, and the trailer — rewritten with its entries in
    * an order shuffled by `seed`. Entries are joined by one space and the
    * rest of the dict's whitespace goes before its `>>`, so the byte length
    * does not change and xref offsets stay valid. Dicts inside object streams
    * are compressed and stay as they are. A test helper, not a writer option. */
  def shuffleDicts(pdf: Array[Byte], seed: Long): Array[Byte] = {
    val s = new String(pdf, Latin1)
    val out = new java.lang.StringBuilder(s)
    val rng = new scala.util.Random(seed)
    val header = Header.matcher(s)
    var pos = 0
    while (pos < s.length && header.find(pos)) {
      val k = skipWs(s, header.end())
      if (s.startsWith("<<", k)) {
        val (text, end, length) = dict(s, k, rng)
        out.replace(k, end, text)
        val st = skipWs(s, end)
        pos =
          if (!s.startsWith("stream", st)) end
          else { // jump over the stream data
            var d = st + "stream".length
            if (s.charAt(d) == '\r') d += 1
            if (s.charAt(d) == '\n') d += 1
            d + length
          }
      } else pos = header.end()
    }
    out.toString.getBytes(Latin1)
  }

  private def skipWs(s: String, from: Int): Int = {
    var k = from
    while (k < s.length && Character.isWhitespace(s.charAt(k))) k += 1
    k
  }

  /** The dict at `start`: (its shuffled text, its end, its `/Length` or 0).
    * A dict too tight to respace keeps its order; its nested dicts are still
    * shuffled. */
  private def dict(s: String, start: Int, rng: scala.util.Random): (String, Int, Int) = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val kept = new java.lang.StringBuilder("<<")
    var length = 0
    var e = start + 2
    var k = skipWs(s, e)
    while (!s.startsWith(">>", k)) {
      val keyEnd = token(s, k + 1)
      val v = skipWs(s, keyEnd)
      val (text, end) = value(s, v, rng)
      if (s.substring(k, keyEnd) == "/Length") length = text.toInt
      entries += s.substring(k, v) + text
      kept.append(s, e, k).append(entries.last)
      e = end
      k = skipWs(s, end)
    }
    val end = k + 2
    kept.append(s, e, end)
    val body = rng.shuffle(entries).mkString(" ")
    val pad = end - start - "<< ".length - body.length - ">>".length
    (if (pad < 0) kept.toString else "<< " + body + " " * pad + ">>", end, length)
  }

  /** The value at `k`: (its text with nested dicts shuffled, its end). */
  private def value(s: String, k: Int, rng: scala.util.Random): (String, Int) =
    s.charAt(k) match {
      case '<' if s.startsWith("<<", k) =>
        val (text, end, _) = dict(s, k, rng)
        (text, end)
      case '<' =>
        val end = s.indexOf('>', k) + 1
        (s.substring(k, end), end)
      case '(' =>
        var depth = 0
        var e = k
        do {
          s.charAt(e) match {
            case '\\' => e += 1
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          e += 1
        } while (depth > 0)
        (s.substring(k, e), e)
      case '[' =>
        val sb = new java.lang.StringBuilder("[")
        var e = k + 1
        while (s.charAt(skipWs(s, e)) != ']') {
          val v = skipWs(s, e)
          val (text, end) = value(s, v, rng)
          sb.append(s, e, v).append(text)
          e = end
        }
        val close = skipWs(s, e)
        sb.append(s, e, close + 1)
        (sb.toString, close + 1)
      case '/' =>
        val end = token(s, k + 1)
        (s.substring(k, end), end)
      case _ =>
        val m = Atom.matcher(s)
        m.region(k, s.length)
        require(m.lookingAt(), s"no value at $k: ${s.substring(k, math.min(s.length, k + 20))}")
        (m.group(), m.end())
    }

  /** The end of the name or keyword whose first char after `/` is at `k`. */
  private def token(s: String, k: Int): Int = {
    var e = k
    while (e < s.length && !Character.isWhitespace(s.charAt(e)) &&
           "()<>[]{}/%".indexOf(s.charAt(e)) < 0) e += 1
    e
  }
}
