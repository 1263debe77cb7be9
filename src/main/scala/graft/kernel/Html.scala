package graft.kernel

import scala.collection.mutable

/** HTML main-content extraction — the north-rule's "HTML boilerplate strip +
  * DOM heuristics" component (BASELINE.json north_star). The reference's
  * analogue is its structured-text walk (S4, `smart_extract.py:64-97`): turn a
  * markup payload into deterministic main text + table cells.
  *
  * The heuristic is the published text-density / link-density family
  * (Readability/Boilerpipe/jusText lineage): score candidate block nodes by
  * `textLen × (1 − linkDensity)`, penalize navigation chrome, pick the best
  * block, serialize deterministically. Everything here is pure Scala — it runs
  * per document inside one Spark row; no Spark types leak in.
  */
object Html {

  // ---------- DOM ----------
  sealed trait Node
  final case class Elem(name: String, attrs: Map[String, String],
                        children: mutable.ArrayBuffer[Node]) extends Node
  final case class Text(s: String) extends Node

  private val voidElems = Set("br", "hr", "img", "input", "meta", "link",
    "area", "base", "col", "embed", "source", "track", "wbr")
  private val blockElems = Set("p", "div", "article", "main", "section",
    "header", "footer", "nav", "aside", "ul", "ol", "li", "table", "tr",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "figure",
    "figcaption", "body", "html")
  private val boilerplateElems = Set("nav", "header", "footer", "aside")
  private val candidateElems = Set("article", "main", "div", "section", "body")

  /** Entity decoding — named subset + numeric, enough for web text. Unknown
    * entities pass through verbatim (lenient, like browsers). */
  def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val decoded: String = ent match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case "nbsp" => " "
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try Character.toChars(Integer.parseInt(e.substring(2), 16)).mkString
              catch { case _: Exception => null }
            case e if e.startsWith("#") =>
              try Character.toChars(Integer.parseInt(e.substring(1))).mkString
              catch { case _: Exception => null }
            case _ => null
          }
          if (decoded != null) { out.append(decoded); i = semi + 1 }
          else { out.append(c); i += 1 }
        } else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Maximum DOM depth; deeper open tags become siblings-of-content rather
    * than children (bounds stack use of all recursive walks). */
  val MaxDepth = 200

  /** Tolerant stack-based parse. Skips comments, doctype, script/style/CDATA.
    * Mismatched close tags pop to the nearest matching open (or are dropped). */
  def parse(html: String): Elem = parseTracked(html)._1

  /** As [[parse]], also reporting whether the [[MaxDepth]] cap flattened any
    * nesting — the flattening silently re-parents content (a close tag whose
    * open was dropped at the cap pops a real ancestor), so callers surface it
    * as a quality warning instead of diverging silently on legitimately deep
    * pages. */
  def parseTracked(html: String): (Elem, Boolean) = {
    val root = Elem("#root", Map.empty, mutable.ArrayBuffer.empty)
    val stack = mutable.Stack(root)
    var depthCapped = false
    var i = 0
    val n = html.length

    def topChildren = stack.top.children

    while (i < n) {
      if (html.charAt(i) == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (html.startsWith("<![CDATA[", i)) {
          val end = html.indexOf("]]>", i + 9)
          val content = html.substring(i + 9, if (end < 0) n else end)
          topChildren += Text(content)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && html.charAt(i + 1) == '!') {
          val end = html.indexOf('>', i)
          i = if (end < 0) n else end + 1
        } else if (i + 1 < n && html.charAt(i + 1) == '/') {
          val end = html.indexOf('>', i)
          val name = lowerAscii(html.substring(i + 2, if (end < 0) n else end).trim)
          var k = 0 // `stack.exists`, without its view iterator
          while (k < stack.size && stack(k).name != name) k += 1
          if (k < stack.size) {
            while (stack.top.name != name && stack.size > 1) stack.pop()
            if (stack.size > 1) stack.pop()
          }
          i = if (end < 0) n else end + 1
        } else {
          // open tag
          val end = html.indexOf('>', i)
          if (end < 0) { i = n }
          else {
            val selfClose = end - 1 > i && html.charAt(end - 1) == '/'
            val el = parseTag(html, i + 1, if (selfClose) end - 1 else end)
            if (el == null) i = end + 1
            else {
              val name = el.name
              topChildren += el
              if (name == "script" || name == "style") {
                // raw text element: skip to the matching close tag
                val close = "</" + name
                val idx = indexOfIgnoreCase(html, close, end + 1)
                i = if (idx < 0) n else {
                  val gt = html.indexOf('>', idx)
                  if (gt < 0) n else gt + 1
                }
              } else {
                // depth cap: a crawled page can nest tags thousands deep
                // (adversarially or by broken markup); past MaxDepth the tag's
                // children attach to the current node instead of recursing —
                // keeps every recursive walk (ownStats/serialize/tableCells)
                // stack-safe without losing the text content
                if (!selfClose && !voidElems.contains(name)) {
                  if (stack.size < MaxDepth) stack.push(el)
                  else depthCapped = true
                }
                i = end + 1
              }
            }
          }
        }
      } else {
        val lt = html.indexOf('<', i)
        val end = if (lt < 0) n else lt
        val t = html.substring(i, end)
        if (t.nonEmpty) topChildren += Text(decodeEntities(t))
        i = end
      }
    }
    (root, depthCapped)
  }

  /** `s.toLowerCase` with an allocation-free fast path: tag and attribute
    * names in real markup are overwhelmingly already-lowercase ASCII, and
    * `String.toLowerCase` both allocates and consults the default locale.
    * Identical output: any uppercase-ASCII or non-ASCII char falls back. */
  private def lowerAscii(s: String): String = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || c >= 0x80) return s.toLowerCase
      i += 1
    }
    s
  }

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    var i = from
    val max = hay.length - needle.length
    while (i <= max) {
      if (hay.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }

  /** The element of the open tag whose body (between `<` and `>`, less a
    * self-closing `/`) is `html(from until to)`, or null when the tag has no
    * name or the name does not start with a letter. Reads `html` in place:
    * no substring per tag body. */
  private def parseTag(html: String, from: Int, to: Int): Elem = {
    var i = from
    val n = to
    while (i < n && html.charAt(i).isWhitespace) i += 1
    val nameStart = i
    while (i < n && !html.charAt(i).isWhitespace) i += 1
    val name = lowerAscii(html.substring(nameStart, i))
    if (name.isEmpty || !name.head.isLetter) return null
    // most tags in real markup carry no attributes; the small immutable maps
    // (Map1..Map4) keep insertion order
    var attrs = Map.empty[String, String]
    while (i < n) {
      while (i < n && html.charAt(i).isWhitespace) i += 1
      if (i < n) {
        val kStart = i
        while (i < n && html.charAt(i) != '=' && !html.charAt(i).isWhitespace) i += 1
        val key = lowerAscii(html.substring(kStart, i))
        while (i < n && html.charAt(i).isWhitespace) i += 1
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && html.charAt(i).isWhitespace) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i)
            val vEnd = { val e = html.indexOf(q, i + 1); if (e >= n) -1 else e }
            val v = html.substring(i + 1, if (vEnd < 0) n else vEnd)
            if (key.nonEmpty) attrs = attrs.updated(key, decodeEntities(v))
            i = if (vEnd < 0) n else vEnd + 1
          } else {
            val vStart = i
            while (i < n && !html.charAt(i).isWhitespace) i += 1
            if (key.nonEmpty) attrs = attrs.updated(key, decodeEntities(html.substring(vStart, i)))
          }
        } else if (key.nonEmpty) attrs = attrs.updated(key, "")
      }
    }
    // most nodes are leaves or near-leaves: a 16-slot default backing array
    // per element was ~10 kB/doc of dead weight
    Elem(name, attrs, new mutable.ArrayBuffer(2))
  }

  // ---------- scoring ----------
  final case class BlockStats(textLen: Int, linkTextLen: Int, pCount: Int)

  /** "Own" statistics of a candidate: subtree text EXCLUDING nested candidate
    * containers and boilerplate chrome. This is what prevents the outermost
    * container (body) from always winning — body's own text is whatever is
    * not claimed by a nested article/div/section, so the deepest container
    * that directly holds the content scores highest (Readability-style
    * paragraph-parent scoring, re-expressed structurally). */
  def ownStats(e: Elem): BlockStats = {
    var t = 0; var l = 0; var p = 0
    def walk(node: Node, inLink: Boolean): Unit = node match {
      case Text(s) =>
        val len = normalizeWsLen(s)
        t += len; if (inLink) l += len
      case Elem(name, _, _) if candidateElems.contains(name) || boilerplateElems.contains(name) =>
        () // nested container: its text belongs to it, not to us
      case Elem(name, _, children) =>
        if (name == "p") p += 1
        val link = inLink || name == "a"
        children.foreach(walk(_, link))
    }
    e.children.foreach(walk(_, inLink = false))
    BlockStats(t, l, p)
  }

  /** Own-stats for EVERY element in ONE post-order pass (semantics identical
    * to per-node [[ownStats]]): a child's memoized stats fold into its parent
    * unless the child is a container/chrome node (contributes 0 to the
    * parent's OWN text), and an `<a>` child's entire own-text re-counts as
    * link text (how the recursive walk's `inLink` flag resolves bottom-up).
    * Per-candidate re-walks are O(n × nested-candidates) — on a real-web page
    * where every nested `div` is a candidate that is quadratic; this is the
    * O(n) form. The walks over `children` here and below index the buffer:
    * its `foreach` allocates a view and an iterator per node. */
  private[kernel] def ownStatsAll(root: Elem): java.util.IdentityHashMap[Elem, BlockStats] = {
    val memo = new java.util.IdentityHashMap[Elem, BlockStats]()
    def compute(e: Elem): BlockStats = {
      var t = 0; var l = 0; var p = 0
      val cs = e.children
      var i = 0
      while (i < cs.length) {
        cs(i) match {
          case Text(s) => t += normalizeWsLen(s)
          case el: Elem =>
            val s = compute(el) // memoize the whole tree: containers are
            // skipped by PARENTS but still need their own stats as candidates
            if (!(candidateElems.contains(el.name) || boilerplateElems.contains(el.name))) {
              t += s.textLen
              if (el.name == "a") l += s.textLen else l += s.linkTextLen
              p += s.pCount + (if (el.name == "p") 1 else 0)
            }
        }
        i += 1
      }
      val st = BlockStats(t, l, p)
      memo.put(e, st)
      st
    }
    compute(root)
    memo
  }

  /** Main-content selection: among candidate blocks not inside boilerplate
    * chrome, maximize `ownTextLen × (1 − linkDensity) × (1 + 0.1·pCount_capped)`.
    * First-in-document-order wins ties (strict > comparison). */
  def selectMain(root: Elem): Option[Elem] = {
    val memo = ownStatsAll(root)
    var best: Elem = null
    var bestScore = -1.0
    def walk(e: Elem, inBoiler: Boolean): Unit = {
      val boiler = inBoiler || boilerplateElems.contains(e.name)
      if (!boiler && candidateElems.contains(e.name)) {
        val s = memo.get(e)
        if (s.textLen > 0) {
          val linkDensity = s.linkTextLen.toDouble / s.textLen
          val score = s.textLen * (1.0 - linkDensity) * (1.0 + 0.1 * math.min(s.pCount, 10))
          if (score > bestScore) { bestScore = score; best = e }
        }
      }
      val cs = e.children
      var i = 0
      while (i < cs.length) {
        cs(i) match {
          case el: Elem => walk(el, boiler)
          case _ =>
        }
        i += 1
      }
    }
    walk(root, inBoiler = false)
    Option(best)
  }

  /** `normalizeWs(s).length` without building the string — the stats walks
    * (`stats`/`ownStats`/`ownStatsAll`) only ever need the normalized LENGTH,
    * and they visit every text node on every page, so the per-node
    * StringBuilder+String of [[normalizeWs]] was pure allocation churn.
    * Equivalence: count = non-space chars + internal space runs (a run
    * counts iff some non-space precedes and follows it). */
  def normalizeWsLen(s: String): Int = {
    var count = 0
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Py.isSpace(c)) { if (count > 0) pendingSpace = true }
      else {
        if (pendingSpace) { count += 1; pendingSpace = false }
        count += 1
      }
      i += 1
    }
    count
  }

  /** Whitespace runs collapsed to one space, leading and trailing ones
    * dropped. Takes the line or cell buffer itself, so no copy is made of it;
    * an all-space input allocates nothing. */
  def normalizeWs(s: CharSequence): String = {
    val n = s.length
    var i = 0
    while (i < n && Py.isSpace(s.charAt(i))) i += 1
    if (i == n) return ""
    val sb = new java.lang.StringBuilder(n - i)
    var lastSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (Py.isSpace(c)) { if (!lastSpace) sb.append(' '); lastSpace = true }
      else { sb.append(c); lastSpace = false }
      i += 1
    }
    if (lastSpace) sb.setLength(sb.length - 1)
    sb.toString
  }

  /** Deterministic text serialization of a subtree: block boundaries become
    * newlines, inline text concatenates, each line whitespace-normalized,
    * empty lines dropped. Table rows serialize as tab-joined cells. */
  def serialize(e: Elem): String = render(e)._1

  /** [[serialize]]'s text and the [[tableCells]] grid of the first table it
    * meets (document order, tables nested in a table excluded; empty when
    * there is none), from one walk. */
  private def render(e: Elem): (String, Vector[Vector[String]]) = {
    val lines = mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var firstTable: Vector[Vector[String]] = null

    def flush(): Unit = {
      val t = normalizeWs(cur)
      if (t.nonEmpty) lines += t
      cur.setLength(0)
    }

    def walk(node: Node): Unit = node match {
      case Text(s) => cur.append(s)
      case el @ Elem("table", _, _) =>
        flush()
        val grid = tableCells(el)
        if (firstTable == null) firstTable = grid
        for (row <- grid) lines += row.mkString("\t")
      case Elem(name, _, children) =>
        val isBlock = blockElems.contains(name)
        if (isBlock) flush()
        if (name == "br") flush()
        var i = 0
        while (i < children.length) { walk(children(i)); i += 1 }
        if (isBlock) flush()
    }
    walk(e)
    flush()
    (lines.mkString("\n"), if (firstTable == null) Vector.empty else firstTable)
  }

  /** Table → cell grid: `<tr>` rows, `<td>/<th>` cells (nested tables excluded
    * from the outer grid), ragged rows padded with "". */
  def tableCells(table: Elem): Vector[Vector[String]] = {
    val rows = mutable.ArrayBuffer.empty[Vector[String]]
    def findRows(e: Elem): Unit = {
      var i = 0
      while (i < e.children.length) {
        e.children(i) match {
          case Elem("tr", _, ch) =>
            val cells = Vector.newBuilder[String]
            var j = 0
            while (j < ch.length) {
              ch(j) match {
                case cell @ Elem(n, _, _) if n == "td" || n == "th" =>
                  cells += normalizeWs(cellText(cell))
                case _ =>
              }
              j += 1
            }
            rows += cells.result()
          case el @ Elem(n, _, _) if n == "thead" || n == "tbody" || n == "tfoot" =>
            findRows(el)
          case _ =>
        }
        i += 1
      }
    }
    def cellText(e: Elem): CharSequence = {
      val sb = new java.lang.StringBuilder
      def w(n: Node): Unit = n match {
        case Text(s) => sb.append(s)
        case Elem("table", _, _) => // nested table: not part of this cell's grid text
        case Elem(_, _, ch) =>
          var j = 0
          while (j < ch.length) { w(ch(j)); sb.append(' '); j += 1 }
      }
      var i = 0
      while (i < e.children.length) { w(e.children(i)); i += 1 }
      sb
    }
    findRows(table)
    val out = rows.filter(_.nonEmpty).toVector
    if (out.isEmpty) Vector.empty
    else {
      val maxCols = out.map(_.length).max
      if (out.forall(_.length == maxCols)) out
      else out.map(r => r ++ Vector.fill(maxCols - r.length)(""))
    }
  }

  final case class HtmlResult(
      mainText: String,
      cells: Vector[Vector[String]],
      spans: Vector[CellSpan],
      items: Vector[TextItem],
      depthCapped: Boolean = false)

  /** Full HTML extraction: parse → select main block → serialize text +
    * first table grid + synthetic-geometry spans/items (x = col·100,
    * y = row·20 — deterministic placeholders so downstream geometry consumers
    * and the quality checker have positioned items to work with). */
  def extract(html: String): HtmlResult = {
    val (root, depthCapped) = parseTracked(html)
    val main = selectMain(root).getOrElse(root)
    val (text, cells) = render(main)

    val spans = Vector.newBuilder[CellSpan]
    val items = Vector.newBuilder[TextItem]
    for (r <- cells.indices; c <- cells(r).indices) if (cells(r)(c).nonEmpty) {
      spans += CellSpan(r, c, c * 100, r * 20, 100, 20)
      items += TextItem(cells(r)(c), 1, c * 100, r * 20, 100, 20, 100)
    }
    if (cells.isEmpty) {
      // positioned items from text lines for vendor detection / quality
      val words = Py.split(text, limit = 200)
      for (idx <- words.indices) items += TextItem(words(idx), 1, (idx % 10) * 100,
        (idx / 10) * 20, math.max(1, words(idx).length * 8), 16, 100)
    }

    HtmlResult(text, cells, spans.result(), items.result(), depthCapped)
  }
}
