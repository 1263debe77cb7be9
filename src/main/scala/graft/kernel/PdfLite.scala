package graft.kernel

import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.util.matching.Regex

/** PDF-lite: a deterministic PDF subset that the corpus generator writes and
  * the extraction kernel parses — the sandbox stand-in for the reference's
  * native-PDF text walk (S4, `smart_extract.py:64-97`: block→line→span →
  * TextItems with int-truncated bboxes, confidence 100).
  *
  * Parser coverage (PDF 32000-1 subsets):
  *  - object structure `N G obj … endobj`, page tree `/Type /Pages` →
  *    `/Kids [...]` → `/Type /Page` (ordered, per-page `/MediaBox` with
  *    inheritance from the Pages node), `/Contents` single ref or array;
  *  - cross-reference chains, BOTH kinds: classic tables (§7.5.4) and
  *    PDF 1.5 xref STREAMS (§7.5.8: `/Type /XRef`, `/W`-sized big-endian
  *    rows, `/Index` subsections, type-2 in-ObjStm entries); `startxref` →
  *    newest section → `/Prev` chain, newest-section-wins — incremental
  *    updates resolve to the live object definition, and the trailer/XRef
  *    `/Root` selects the authoritative page tree;
  *  - object streams (§7.5.7): `/Type /ObjStm` containers are inflated and
  *    their embedded dict-only objects (Catalog/Pages/Page nodes in real
  *    files) recovered — authoritatively via xref type-2 entries, by scan
  *    otherwise;
  *  - stream filters: `/FlateDecode` (`java.util.zip.Inflater` — zlib is
  *    public knowledge; output capped at [[InflateCap]] as
  *    decompression-bomb defense), `/ASCIIHexDecode`, and the
  *    `[/ASCIIHexDecode /FlateDecode]` chain;
  *  - text operators `BT ET Tf Td TD Tm T* Tj TJ` over literal `(...)` and
  *    hex `<...>` strings; `TJ` arrays apply the standard kerning advance
  *    `tx = −n/1000 × fontSize`;
  *  - font text decoding, tracked per Tf font: `/ToUnicode` CMaps
  *    (bfchar/bfrange, §9.10.3 — take precedence, the PyMuPDF order) and
  *    `/Encoding /WinAnsiEncoding` (shown strings re-read as windows-1252:
  *    smart quotes, dashes, € in 0x80–0x9F), resolved through `/Resources →
  *    /Font` inline dicts or references;
  *  - tolerant everywhere: unknown operators are skipped, malformed streams
  *    yield the items recovered so far, files with no recognizable page tree
  *    fall back to "every stream is page 1" (failure isolation happens per
  *    document upstream).
  *
  * Geometry contract: monospace metric `charWidth = 0.6 × fontSize`,
  * `height = fontSize`, top-left conversion `yTop = pageH − yPdf − fontSize`
  * (PyMuPDF-style), int truncation per `smart_extract.py:87-91`. Writer and
  * parser share the metric, so round-trips are exact for integer coordinates.
  *
  * All structural scanning happens over an ISO-8859-1 view of the bytes
  * (lossless 1:1 byte↔char), so compressed binary regions survive the string
  * operations untouched.
  */
object PdfLite {

  val CharWidthFactor = 0.6

  /** Decompressed-stream size cap: a 100 MB input (Extractor.MaxBytes) may
    * not inflate past this — past it the stream is truncated, not fatal. */
  val InflateCap: Int = 32 * 1024 * 1024

  /** One positioned text run, in TOP-LEFT page coordinates (integers only —
    * keeps the decimal round-trip exact). */
  final case class Run(x: Int, y: Int, size: Int, text: String)

  /** One page of a document to serialize. */
  final case class PageSpec(pageW: Int, pageH: Int, runs: Seq[Run])

  /** Document-information dictionary values (PDF 32000-1 §14.3.3) the
    * writer serializes and [[docInfo]] reads back. `created` uses the
    * ASN.1-style `D:YYYYMMDDHHmmSS` form real writers emit. */
  final case class DocInfo(title: String, author: String,
                           producer: String, created: String)

  private val Latin1 = StandardCharsets.ISO_8859_1

  // ---------- writer ----------

  private def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '(' => sb.append("\\(")
      case ')' => sb.append("\\)")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def hexString(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length * 2 + 2)
    sb.append('<')
    s.foreach(c => sb.append(f"${c.toInt & 0xff}%02X"))
    sb.append('>')
    sb.toString
  }

  /** Writer text-encoding contract (ADVICE r02): the serialized byte per char
    * is the char's code point under the doc's DECLARED encoding — Latin-1 by
    * default, windows-1252 when the doc declares `/WinAnsiEncoding`, or a
    * doc-local code assignment published via `/ToUnicode`. A char the
    * encoding cannot represent becomes a literal '?' HERE, explicitly and
    * deterministically, instead of corrupting silently inside
    * `getBytes(ISO_8859_1)` downstream. */
  private def latin1Enc(t: String): String =
    t.map(c => if (c > 0xff) '?' else c)
  private def winAnsiEnc(t: String): String =
    new String(t.getBytes("windows-1252"), Latin1)

  /** Per-page content stream. Runs on the same y share a line: the first run
    * of a line is positioned absolutely (Tm), subsequent runs relatively (Td)
    * — exercising both parser paths. `tjEvery`/`hexEvery` (0 = never) emit
    * every k-th run as a kerned `TJ` array (words separated by −600 kerning ≡
    * one space width under the monospace metric) / as a hex string — so the
    * corpus itself exercises those parser paths. `enc` serializes run text
    * into the doc's declared byte encoding. */
  private def pageContent(p: PageSpec, tjEvery: Int, hexEvery: Int,
                          enc: String => String, rotate: Int): String = {
    val content = new java.lang.StringBuilder
    content.append("BT\n")
    var curSize = -1
    var lineY = Int.MinValue
    var curX = 0; var curY = 0
    // inverse of the parser's display transform: run anchors are given in
    // DISPLAY top-left coords of the rotated page (pageW × pageH); text is
    // positioned in unrotated user space (see interpret's forward map)
    val uw = if (rotate == 90 || rotate == 270) p.pageH else p.pageW
    val uh = if (rotate == 90 || rotate == 270) p.pageW else p.pageH
    def userX(r: Run): Int = rotate match {
      case 90 => r.y + r.size
      case 180 => uw - r.x
      case 270 => uw - r.y - r.size
      case _ => r.x
    }
    def userY(r: Run): Int = rotate match {
      case 90 => r.x
      case 180 => r.y + r.size
      case 270 => uh - r.x
      case _ => uh - r.y - r.size
    }
    for ((r, idx) <- p.runs.zipWithIndex) {
      if (r.size != curSize) {
        content.append(s"/F1 ${r.size} Tf\n")
        curSize = r.size
      }
      val xPdf = userX(r)
      val yPdf = userY(r)
      if (r.y != lineY) {
        content.append(s"1 0 0 1 $xPdf $yPdf Tm\n")
        lineY = r.y; curX = xPdf; curY = yPdf
      } else {
        content.append(s"${xPdf - curX} ${yPdf - curY} Td\n")
        curX = xPdf; curY = yPdf
      }
      val encoded = enc(r.text)
      val asTj = tjEvery > 0 && idx % tjEvery == tjEvery - 1 && encoded.contains(' ')
      val asHex = hexEvery > 0 && idx % hexEvery == hexEvery - 1
      if (asTj) {
        // kerned array: words advance by exactly one space width each
        val words = encoded.split(" ", -1)
        content.append(words.map { w =>
          if (asHex) hexString(w) else s"(${escape(w)})"
        }.mkString("[ ", " -600 ", " ] TJ\n"))
      } else if (asHex) {
        content.append(s"${hexString(encoded)} Tj\n")
      } else {
        content.append(s"(${escape(encoded)}) Tj\n")
      }
    }
    content.append("ET\n")
    content.toString
  }

  /** TIFF-variant LZW encoder (EarlyChange=1) matching [[lzwDecode]]:
    * pair-keyed dictionary, leading clear-code, frozen table at 4096. The
    * emit width is taken from `nextCode` BEFORE the post-emit table add and
    * the EOD width from `nextCode + 1` — both derived from the decoder's
    * one-entry lag so round-trips are bit-exact across the 511/1023/2047
    * boundaries. */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    var bitBuf = 0L; var bits = 0
    def put(code: Int, width: Int): Unit = {
      bitBuf = (bitBuf << width) | code; bits += width
      while (bits >= 8) { out.write(((bitBuf >>> (bits - 8)) & 0xff).toInt); bits -= 8 }
    }
    var nextCode = 258
    def width(n: Int): Int =
      if (n <= 511) 9 else if (n <= 1023) 10 else if (n <= 2047) 11 else 12
    put(256, 9) // leading clear (what real writers emit)
    if (data.nonEmpty) {
      val dict = new java.util.HashMap[Integer, Integer](4096)
      var w = data(0) & 0xff
      var k = 1
      while (k < data.length) {
        val c = data(k) & 0xff
        val key = Integer.valueOf((w << 8) | c)
        val hit = dict.get(key)
        if (hit != null) w = hit.intValue
        else {
          put(w, width(nextCode))
          if (nextCode < 4096) { dict.put(key, Integer.valueOf(nextCode)); nextCode += 1 }
          w = c
        }
        k += 1
      }
      put(w, width(nextCode))
    }
    put(257, width(nextCode + 1)) // EOD read happens after the decoder's last add
    if (bits > 0) out.write(((bitBuf << (8 - bits)) & 0xff).toInt)
    out.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** ASCII85 encoder (writer twin of `ascii85Decode`): 4 bytes → 5 chars,
    * an all-zero group collapses to `z`, a partial final group of n bytes
    * emits n+1 chars, and the data is closed with `~>`. */
  private def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(data.length * 5 / 4 + 8)
    var i = 0
    while (i < data.length) {
      val rem = math.min(4, data.length - i)
      var v = 0L
      var j = 0
      while (j < 4) {
        v = (v << 8) | (if (j < rem) data(i + j) & 0xffL else 0L)
        j += 1
      }
      if (v == 0L && rem == 4) sb.append('z')
      else {
        val cs = new Array[Char](5)
        var k = 4
        while (k >= 0) { cs(k) = ('!' + (v % 85).toInt).toChar; v /= 85; k -= 1 }
        var c = 0
        while (c <= rem) { sb.append(cs(c)); c += 1 }
      }
      i += rem
    }
    sb.append("~>")
    sb.toString.getBytes(Latin1)
  }

  /** RunLengthEncode (writer twin of `runLengthDecode`): runs of ≥ 3 equal
    * bytes become `(257−len, byte)` pairs (len capped at 128); everything
    * else is emitted as literal blocks of ≤ 128; `0x80` terminates. */
  private def runLengthEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + data.length / 64 + 8)
    var i = 0
    while (i < data.length) {
      var run = 1
      while (run < 128 && i + run < data.length && data(i + run) == data(i)) run += 1
      if (run >= 3) {
        out.write(257 - run); out.write(data(i))
        i += run
      } else {
        // literal block: scan forward until a ≥3-run starts or 128 bytes
        var end = i + run
        while (end - i < 128 && end < data.length &&
               !(end + 2 < data.length && data(end) == data(end + 1) && data(end) == data(end + 2)))
          end += 1
        out.write(end - i - 1)
        out.write(data, i, end - i)
        i = end
      }
    }
    out.write(128)
    out.toByteArray
  }

  /** Serialize a multi-page document. `scanned = true` adds an image XObject
    * marker so the router's detect analog (`smart_extract.py:30-62`: images +
    * no meaningful text ⇒ scanned) has something to sniff; `compress` Flate-
    * encodes every content stream.
    *
    * Real-world dialect flags:
    *  - `xref` appends a classic cross-reference table + trailer + startxref
    *    (PDF 32000-1 §7.5.4) with true byte offsets;
    *  - `objStm` moves the structural dicts (Catalog/Pages/Page) into one
    *    Flate-compressed object stream (§7.5.7) — content streams stay
    *    top-level (streams cannot nest in an ObjStm). In a classic xref the
    *    in-ObjStm objects are marked free (only xref STREAMS can type-2
    *    reference them); the parser recovers them by ObjStm expansion;
    *  - `winAnsi` declares `/Encoding /WinAnsiEncoding` on the page font and
    *    serializes text through windows-1252, so cp1252-only chars (smart
    *    quotes, em dash, €) round-trip as single bytes;
    *  - `toUnicode` assigns doc-local byte codes (0x80…) to the non-ASCII
    *    chars in use and publishes them via a `/ToUnicode` CMap
    *    (bfrange + bfchar) — the subset-font layout where the Tj bytes are
    *    NOT the text without the CMap;
    *  - `xrefStream` emits a PDF 1.5 `/Type /XRef` cross-reference STREAM
    *    (`/W [1 4 2]`, Flate) instead of a classic table, with type-2
    *    entries for in-ObjStm objects when combined with `objStm`;
    *  - `hexArmor` wraps content streams in `/ASCIIHexDecode` (optionally
    *    chained over Flate);
    *  - `lzw` compresses content streams with `/LZWDecode` (the TIFF LZW
    *    variant old toolchains emit) instead of Flate;
    *  - `predictor` PNG-Up-encodes the xref STREAM rows and declares
    *    `/DecodeParms << /Predictor 12 /Columns 7 >>` (the modern-writer
    *    default);
    *  - `rotate` (90/180/270) stores rotated user-space text anchors +
    *    swapped `/MediaBox` dims + a `/Rotate` key, so the DISPLAY view
    *    matches the unrotated spec;
    *  - `cid` declares an Identity-H `/Subtype /Type0` composite font and
    *    emits every glyph as a 2-byte code in hex strings, recoverable only
    *    through the codespacerange'd `/ToUnicode` CMap (the CJK reality);
    *  - `form` moves each page's body into a `/Subtype /Form` XObject
    *    carrying its own font resources, invoked by a tiny `/Fm0 Do`
    *    contents stream (letterhead/stamp layouts);
    *  - `differences` declares `/Encoding << /BaseEncoding /WinAnsiEncoding
    *    /Differences [...] >>` (the most common simple-font encoding after
    *    bare WinAnsi — §9.6.6.3): EVEN-indexed non-ASCII chars in use get
    *    remapped byte codes published ONLY through the Differences array
    *    (split across two code runs so parsers see a restart), odd-indexed
    *    chars ride the cp1252 base — one font, both decode paths;
    *  - `dctImage` makes the scanned-page image XObject carry REAL JPEG
    *    bytes behind `/Filter /DCTDecode` (instead of the bare pixel-less
    *    marker), so the router's image sniff has actual pixels to decode;
    *  - `encrypt` applies the Standard Security Handler (V=2/R=3 RC4-128,
    *    empty user password — [[PdfCrypt]]): every stream RC4-encrypted
    *    under its per-object key (the xref STREAM exempt, per spec), an
    *    `/Encrypt` dict with real `/O`/`/U` values, `/ID` in the trailer
    *    (a classic xref table is forced if no xref form was requested —
    *    `/Encrypt` lives in a trailer);
    *  - `aes` upgrades the handler to V=4/R=4 with the `/AESV2` crypt
    *    filter (`/CF << /StdCF << /CFM /AESV2 >> >> /StmF /StdCF`):
    *    streams carry `IV ‖ AES-128-CBC(pad(data))` under the salted
    *    per-object key — the modern (Acrobat 7+) encrypted shape;
    *  - `aes256` upgrades to V=5/R=6 `/AESV3` (the PDF 2.0 form): streams
    *    encrypt under the 32-byte FILE key directly, /U//UE//O//OE carry
    *    the Algorithm-8/9 wrap vectors, /Perms the Algorithm-10 block. */
  final case class JpegImage(bytes: Array[Byte], w: Int, h: Int)
  def writeDoc(pages: Seq[PageSpec], scanned: Boolean = false,
               compress: Boolean = false, tjEvery: Int = 0,
               hexEvery: Int = 0, xref: Boolean = false,
               objStm: Boolean = false, winAnsi: Boolean = false,
               toUnicode: Boolean = false, xrefStream: Boolean = false,
               hexArmor: Boolean = false, lzw: Boolean = false,
               a85Armor: Boolean = false, rle: Boolean = false,
               predictor: Boolean = false, rotate: Int = 0,
               cid: Boolean = false, form: Boolean = false,
               differences: Boolean = false,
               dctImage: Option[JpegImage] = None,
               encrypt: Boolean = false, aes: Boolean = false,
               aes256: Boolean = false,
               ccittImage: Option[CcittG4.Image] = None,
               fontFile2: Boolean = false,
               jbig2Image: Option[Jbig2.Image] = None,
               fontFile3: Boolean = false,
               jpxImage: Option[Jpx.Payload] = None,
               links: Seq[String] = Nil,
               info: Option[DocInfo] = None,
               userPw: String = "", ownerPw: String = ""): Array[Byte] = {
    // all encryption flavors share the handler plumbing; `aes`/`aes256`
    // alone imply an encrypted document
    val doEnc = encrypt || aes || aes256
    // CID text is emitted as hex strings only (a 2-byte code containing
    // 0x20 must not be word-split by the TJ writer); rotated pages skip TJ
    // so kerning advances stay a pure line-axis concern
    val tjEv = if (cid || rotate != 0) 0 else tjEvery
    val hexEv = if (cid) 1 else hexEvery
    val out = new java.io.ByteArrayOutputStream(4096)
    def put(s: String): Unit = out.write(s.getBytes(Latin1))
    val offsets = mutable.Map.empty[Int, Int] // top-level obj num → byte offset
    def beginObj(num: Int): Unit = offsets(num) = out.size

    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    // form mode: each page's body lives in a Form XObject (object
    // formBase+i) that the tiny /Contents stream invokes via `Do`
    val formBase = 3 + 2 * pages.length
    val imageObjNum = formBase + (if (form) pages.length else 0)
    val useFont = winAnsi || toUnicode || cid || differences || fontFile2 || fontFile3
    val fontObjNum = imageObjNum + (if (scanned) 1 else 0)
    // fontFile2 mode (exclusive of toUnicode/cid/differences/winAnsi in this
    // writer) claims the two slots after the font object for the
    // /FontDescriptor and the /FontFile2 program stream
    val cmapObjNum = fontObjNum + 1
    // link annotations: even-indexed links become indirect /Annot objects,
    // odd-indexed ones ride inline in the page's /Annots array — both legal
    // layouts real writers emit. NOTE: /URI and /Info values are literal
    // strings, which THIS writer never encrypts — callers combining
    // `links`/`info` with encryption would produce a spec-invalid hybrid,
    // so the corpus draws them only for unencrypted documents.
    val annotBase = fontObjNum + (if (useFont) 1 else 0) +
      (if (toUnicode || cid) 1 else 0) + (if (fontFile2 || fontFile3) 2 else 0)
    val indirectLinkNums: Map[Int, Int] = // global link idx → object number
      links.indices.filter(_ % 2 == 0).zipWithIndex
        .map { case (gi, slot) => gi -> (annotBase + slot) }.toMap
    val infoNum = annotBase + indirectLinkNums.size
    val objStmNum = infoNum + (if (info.isDefined) 1 else 0)
    val encNum = objStmNum + (if (objStm) 1 else 0)
    val xrefStmNum = encNum + (if (doEnc) 1 else 0)
    // /Encrypt must live in a trailer — force a classic xref table when the
    // caller picked neither xref form
    val useXrefTable = xref || (doEnc && !xrefStream)

    // Standard Security Handler material (user/owner passwords default
    // empty — the common open-web shape; `userPw`/`ownerPw` produce REAL
    // password-protected fixtures for the authenticate path): deterministic
    // /ID from the doc's own text. V≤4: the file key DERIVES from
    // (password, /O, P, /ID) per Algorithm 2; V=5: the key is freestanding
    // and /U//UE//O//OE wrap it (Algorithms 8/9). Password bytes: Latin-1
    // for R≤4, UTF-8 for R=6 — matching the reader.
    val encUserPwL1 = userPw.getBytes(Latin1)
    val encOwnerPwL1 = ownerPw.getBytes(Latin1)
    val encO: Array[Byte] =
      if (doEnc && !aes256) PdfCrypt.oValue(encOwnerPwL1, encUserPwL1) else null
    val encP = -44 // typical permission mask (print allowed); part of the key
    val encId0: Array[Byte] =
      if (doEnc)
        PdfCrypt.md5(pages.flatMap(_.runs).map(_.text).mkString("|").getBytes(Latin1))
      else null
    val encKey: Array[Byte] =
      if (!doEnc) null
      else if (aes256) PdfCrypt.fileKey32(encId0)
      else PdfCrypt.fileKey(encUserPwL1, encO, encP, encId0)
    // V5 wrap vectors (computed once; /O binds to the full 48-byte /U)
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val encU6: (Array[Byte], Array[Byte]) =
      if (aes256) PdfCrypt.u6Values(encKey, encId0, userPw.getBytes(utf8)) else null
    val encO6: (Array[Byte], Array[Byte]) =
      if (aes256) PdfCrypt.o6Values(encKey, encU6._1, encId0, ownerPw.getBytes(utf8))
      else null
    def encStream(objNum: Int, data: Array[Byte]): Array[Byte] =
      if (encKey == null) data
      else if (aes256) PdfCrypt.aesEncrypt(encKey, data) // V5: file key direct
      else if (aes) PdfCrypt.aesEncrypt(PdfCrypt.objKeyAes(encKey, objNum), data)
      else PdfCrypt.rc4(PdfCrypt.objKey(encKey, objNum), data)
    def hexOf(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString
    val trailerEncPart =
      if (doEnc)
        s" /Encrypt $encNum 0 R /ID [<${hexOf(encId0)}> <${hexOf(encId0)}>]"
      else ""
    val trailerInfoPart = if (info.isDefined) s" /Info $infoNum 0 R" else ""

    // doc-local ToUnicode code assignment: the non-ASCII chars actually used
    // get codes 0x80… and the CMap publishes the mapping — the real-world
    // subset-font layout where Tj bytes are NOT the text
    val codeMap: Map[Char, Char] =
      if (!toUnicode) Map.empty
      else pages.flatMap(_.runs).flatMap(_.text).filter(_ > 0x7e)
        .distinct.take(0x7e)
        .zipWithIndex.map { case (c, k) => c -> (0x80 + k).toChar }.toMap
    // Differences remapping: even-indexed non-ASCII chars in use get codes
    // the Differences array alone explains (from the 0x80 block, spilling
    // into a second run at 0xC0); odd-indexed chars stay on the cp1252 base
    // encoding — whose bytes are RESERVED, because the parser must give a
    // Differences mapping precedence at any code it names (§9.6.6.3), so a
    // remapped code colliding with a base-encoded byte would shadow it
    val diffCode: Map[Char, Char] =
      if (!differences) Map.empty
      else {
        val nonAscii = pages.flatMap(_.runs).flatMap(_.text)
          .filter(_ > 0x7e).distinct
        val evens = nonAscii.zipWithIndex.collect { case (c, k) if k % 2 == 0 => c }
        val reserved = nonAscii.zipWithIndex.collect { case (c, k) if k % 2 == 1 =>
          winAnsiEnc(c.toString).charAt(0).toInt }.toSet
        val avail = ((0x80 to 0x9f) ++ (0xc0 to 0xff)).filterNot(reserved)
        evens.zip(avail.map(_.toChar)).toMap
      }
    // fontFile2: EVERY used char (space and '?' included) gets a scrambled
    // byte code published ONLY through the embedded font program's
    // cmap+post tables — no /Encoding, no /ToUnicode, no identity escape
    // hatch; Tj bytes are meaningless without reading the sfnt
    val ttfCode: Map[Char, Char] =
      if (!fontFile2 && !fontFile3) Map.empty
      else {
        val chars = (pages.flatMap(_.runs).flatMap(_.text) :+ '?')
          .distinct.sorted.take(0xde)
        // distinct scrambles per program format so a CFF doc can never be
        // decoded by accident through TrueType assumptions (or vice versa)
        val seed = if (fontFile3) 123456789L else 987654321L
        val pool = new scala.util.Random(seed)
          .shuffle((0x21 to 0xfe).toList)
        chars.zip(pool.map(_.toChar)).toMap
      }
    val enc: String => String =
      if (cid) t => { // Identity-H-style: every char is its own 2-byte code
        val sb = new java.lang.StringBuilder(t.length * 2)
        t.foreach(c => sb.append(((c >> 8) & 0xff).toChar).append((c & 0xff).toChar))
        sb.toString
      }
      else if (fontFile2 || fontFile3) t => t.map(c => ttfCode.getOrElse(c, ttfCode('?')))
      else if (toUnicode) t => t.map(c => if (c <= 0x7e) c else codeMap.getOrElse(c, '?'))
      else if (differences) t => t.map(c =>
        if (c <= 0x7e) c
        else diffCode.getOrElse(c, winAnsiEnc(c.toString).charAt(0)))
      else if (winAnsi) winAnsiEnc
      else latin1Enc

    val fontRes =
      if (useFont) s" /Resources << /Font << /F1 $fontObjNum 0 R >> >>" else ""
    def catalogDict = "<< /Type /Catalog /Pages 2 0 R >>"
    // literal-string escaping (§7.3.4.2): backslash first, then parens
    def escLit(t: String): String =
      t.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    def annotDict(uri: String, gi: Int): String = {
      val y = 40 + 20 * (gi % 8)
      s"<< /Type /Annot /Subtype /Link /Rect [50 $y 350 ${y + 14}] " +
        s"/Border [0 0 0] /A << /S /URI /URI (${escLit(uri)}) >> >>"
    }
    // link gi lands on page gi % nPages; even gi as an indirect ref
    def annotsPart(i: Int): String = {
      val mine = links.zipWithIndex.filter(_._2 % pages.length == i)
      if (mine.isEmpty) ""
      else " /Annots [" + mine.map { case (uri, gi) =>
        indirectLinkNums.get(gi) match {
          case Some(n) => s"$n 0 R"
          case None => annotDict(uri, gi)
        }
      }.mkString(" ") + "]"
    }
    def pagesDict = s"<< /Type /Pages /Kids [$kids] /Count ${pages.length} >>"
    // user-space MediaBox: rotated pages store swapped dims + /Rotate
    val rotPart = if (rotate != 0) s" /Rotate $rotate" else ""
    def pageDict(i: Int, p: PageSpec) = {
      val uw = if (rotate == 90 || rotate == 270) p.pageH else p.pageW
      val uh = if (rotate == 90 || rotate == 270) p.pageW else p.pageH
      // form mode: fonts ride on the form's OWN resources, the page only
      // names the XObject — exercising the parser's two-level resolution
      val res =
        if (form) s" /Resources << /XObject << /Fm0 ${formBase + i} 0 R >> >>"
        else fontRes
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 $uw $uh]$rotPart " +
        s"/Contents ${4 + 2 * i} 0 R$res${annotsPart(i)} >>"
    }
    // shared stream encoder: compress/lzw/rle then optional hex or base-85
    // armor; /Filter lists the chain in decode order (armor first)
    def encodeStream(raw: Array[Byte]): (Array[Byte], String) = {
      val deflated =
        if (compress) deflate(raw)
        else if (lzw) lzwEncode(raw)
        else if (rle) runLengthEncode(raw)
        else raw
      val data =
        if (hexArmor) {
          val sb = new java.lang.StringBuilder(deflated.length * 2 + 1)
          deflated.foreach(b => sb.append(f"${b & 0xff}%02X"))
          sb.append('>')
          sb.toString.getBytes(Latin1)
        }
        else if (a85Armor) ascii85Encode(deflated)
        else deflated
      val innerFilter =
        if (compress) "/FlateDecode"
        else if (lzw) "/LZWDecode"
        else if (rle) "/RunLengthDecode"
        else ""
      val armorFilter =
        if (hexArmor) "/ASCIIHexDecode"
        else if (a85Armor) "/ASCII85Decode"
        else ""
      val filter =
        if (armorFilter.nonEmpty && innerFilter.nonEmpty) s" /Filter [$armorFilter $innerFilter]"
        else if (innerFilter.nonEmpty) s" /Filter $innerFilter"
        else if (armorFilter.nonEmpty) s" /Filter $armorFilter"
        else ""
      (data, filter)
    }

    put("%PDF-1.4\n")
    if (objStm) {
      val bodies = Seq(1 -> catalogDict, 2 -> pagesDict) ++
        pages.zipWithIndex.map { case (p, i) => (3 + 2 * i) -> pageDict(i, p) }
      val sb = new java.lang.StringBuilder
      val offs = bodies.map { case (_, b) =>
        val o = sb.length; sb.append(b).append('\n'); o }
      val header = bodies.zip(offs)
        .map { case ((n, _), o) => s"$n $o" }.mkString(" ") + "\n"
      val data = encStream(objStmNum, deflate((header + sb).getBytes(Latin1)))
      beginObj(objStmNum)
      put(s"$objStmNum 0 obj << /Type /ObjStm /N ${bodies.length} " +
        s"/First ${header.length} /Length ${data.length} /Filter /FlateDecode >> stream\n")
      out.write(data)
      put("\nendstream endobj\n")
    } else {
      beginObj(1); put(s"1 0 obj $catalogDict endobj\n")
      beginObj(2); put(s"2 0 obj $pagesDict endobj\n")
    }
    for ((p, i) <- pages.zipWithIndex) {
      val pageObj = 3 + 2 * i
      val contObj = pageObj + 1
      if (!objStm) {
        beginObj(pageObj)
        put(s"$pageObj 0 obj ${pageDict(i, p)} endobj\n")
      }
      val raw = pageContent(p, tjEv, hexEv, enc, rotate).getBytes(Latin1)
      if (form) {
        // tiny invoking stream on the page, real body in the Form XObject
        val inv = encStream(contObj, "/Fm0 Do\n".getBytes(Latin1))
        beginObj(contObj)
        put(s"$contObj 0 obj << /Length ${inv.length} >> stream\n")
        out.write(inv)
        put("\nendstream endobj\n")
        val (data0, filter) = encodeStream(raw)
        val data = encStream(formBase + i, data0)
        val formObj = formBase + i
        val uw = if (rotate == 90 || rotate == 270) p.pageH else p.pageW
        val uh = if (rotate == 90 || rotate == 270) p.pageW else p.pageH
        beginObj(formObj)
        put(s"$formObj 0 obj << /Type /XObject /Subtype /Form " +
          s"/BBox [0 0 $uw $uh]$fontRes /Length ${data.length}$filter >> stream\n")
        out.write(data)
        put("\nendstream endobj\n")
      } else {
        val (data0, filter) = encodeStream(raw)
        val data = encStream(contObj, data0)
        beginObj(contObj)
        put(s"$contObj 0 obj << /Length ${data.length}$filter >> stream\n")
        out.write(data)
        put("\nendstream endobj\n")
      }
    }
    if (scanned) {
      beginObj(imageObjNum)
      (dctImage, ccittImage) match {
        case (None, None) if jpxImage.isDefined =>
          // JPEG2000-compressed pixels (raw codestream or JP2 container)
          // behind /JPXDecode; per §7.4.9 the codestream itself carries the
          // authoritative geometry/colorspace, the dict entries mirror it
          val x = jpxImage.get
          val xb = encStream(imageObjNum, x.bytes)
          put(s"$imageObjNum 0 obj << /Type /XObject /Subtype /Image " +
            s"/Width ${x.w} /Height ${x.h} " +
            s"/Filter /JPXDecode /Length ${xb.length} >> stream\n")
          out.write(xb)
          put("\nendstream endobj\n")
        case (None, None) if jbig2Image.isDefined =>
          // bilevel JBIG2-compressed pixels: embedded segment stream
          // (page info + immediate lossless generic region) behind
          // /JBIG2Decode; JBIG2 codes 1 = black natively
          val g = jbig2Image.get
          val gb = encStream(imageObjNum, Jbig2.encode(g))
          put(s"$imageObjNum 0 obj << /Type /XObject /Subtype /Image " +
            s"/Width ${g.w} /Height ${g.h} /ColorSpace /DeviceGray " +
            s"/BitsPerComponent 1 /Filter /JBIG2Decode " +
            s"/Length ${gb.length} >> stream\n")
          out.write(gb)
          put("\nendstream endobj\n")
        case (Some(j), _) =>
          // real scanned-page pixels: a JPEG-bytes stream behind /DCTDecode
          val jb = encStream(imageObjNum, j.bytes)
          put(s"$imageObjNum 0 obj << /Type /XObject /Subtype /Image " +
            s"/Width ${j.w} /Height ${j.h} /ColorSpace /DeviceRGB " +
            s"/BitsPerComponent 8 /Filter /DCTDecode " +
            s"/Length ${jb.length} >> stream\n")
          out.write(jb)
          put("\nendstream endobj\n")
        case (None, Some(c)) =>
          // bilevel fax-compressed pixels: G4 (/K -1) behind
          // /CCITTFaxDecode; /BlackIs1 true so raster bit 1 = black
          val cb = encStream(imageObjNum, CcittG4.encode(c))
          put(s"$imageObjNum 0 obj << /Type /XObject /Subtype /Image " +
            s"/Width ${c.w} /Height ${c.h} /ColorSpace /DeviceGray " +
            s"/BitsPerComponent 1 /Filter /CCITTFaxDecode " +
            s"/DecodeParms << /K -1 /Columns ${c.w} /Rows ${c.h} " +
            s"/BlackIs1 true >> /Length ${cb.length} >> stream\n")
          out.write(cb)
          put("\nendstream endobj\n")
        case (None, None) =>
          put(s"$imageObjNum 0 obj << /Type /XObject /Subtype /Image " +
            "/Width 800 /Height 1100 >> endobj\n")
      }
    }
    if (useFont) {
      beginObj(fontObjNum)
      if (cid)
        // composite-font layout: 2-byte Identity-H codes, text only
        // recoverable through the /ToUnicode CMap
        put(s"$fontObjNum 0 obj << /Type /Font /Subtype /Type0 " +
          s"/BaseFont /Synth-CID /Encoding /Identity-H " +
          s"/ToUnicode $cmapObjNum 0 R >> endobj\n")
      else {
        val encPart =
          if (differences) {
            // one "start-code name name ..." group per consecutive code run
            val sb = new java.lang.StringBuilder
            var prev = Int.MinValue
            for ((code, ch) <- diffCode.toSeq.map { case (c, k) => (k.toInt, c) }.sorted) {
              if (code != prev + 1) sb.append(' ').append(code)
              sb.append(" /").append(Glyphs.nameOf(ch))
              prev = code
            }
            s" /Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
              s"/Differences [$sb ] >>"
          }
          else if (winAnsi) " /Encoding /WinAnsiEncoding"
          else ""
        val cmapPart = if (toUnicode) s" /ToUnicode $cmapObjNum 0 R" else ""
        if (fontFile2)
          // symbolic TrueType, byte semantics live in the font program only
          put(s"$fontObjNum 0 obj << /Type /Font /Subtype /TrueType " +
            s"/BaseFont /GRAFT+Synth /FirstChar 33 /LastChar 254 " +
            s"/FontDescriptor ${fontObjNum + 1} 0 R >> endobj\n")
        else if (fontFile3)
          // Type1 face whose program ships as CFF/Type1C — byte semantics
          // live in the CFF Encoding/charset/strings only
          put(s"$fontObjNum 0 obj << /Type /Font /Subtype /Type1 " +
            s"/BaseFont /GRAFT+SynthCff /FirstChar 33 /LastChar 254 " +
            s"/FontDescriptor ${fontObjNum + 1} 0 R >> endobj\n")
        else
          put(s"$fontObjNum 0 obj << /Type /Font /Subtype /Type1 " +
            s"/BaseFont /Helvetica$encPart$cmapPart >> endobj\n")
      }
    }
    if (fontFile2) {
      beginObj(fontObjNum + 1)
      put(s"${fontObjNum + 1} 0 obj << /Type /FontDescriptor " +
        "/FontName /GRAFT+Synth /Flags 4 /ItalicAngle 0 /Ascent 800 " +
        "/Descent -200 /CapHeight 700 /StemV 80 /FontBBox [0 -200 1000 800] " +
        s"/FontFile2 ${fontObjNum + 2} 0 R >> endobj\n")
      beginObj(fontObjNum + 2)
      val ttf = TrueTypeFont.build(
        ttfCode.toSeq.map { case (ch, code) => (code.toInt, ch) })
      val tb = encStream(fontObjNum + 2, ttf)
      put(s"${fontObjNum + 2} 0 obj << /Length ${tb.length} " +
        s"/Length1 ${ttf.length} >> stream\n")
      out.write(tb)
      put("\nendstream endobj\n")
    }
    if (fontFile3) {
      beginObj(fontObjNum + 1)
      put(s"${fontObjNum + 1} 0 obj << /Type /FontDescriptor " +
        "/FontName /GRAFT+SynthCff /Flags 4 /ItalicAngle 0 /Ascent 800 " +
        "/Descent -200 /CapHeight 700 /StemV 80 /FontBBox [0 -200 1000 800] " +
        s"/FontFile3 ${fontObjNum + 2} 0 R >> endobj\n")
      beginObj(fontObjNum + 2)
      val cff = CffFont.build(
        ttfCode.toSeq.map { case (ch, code) => (code.toInt, ch) })
      val cb = encStream(fontObjNum + 2, cff)
      put(s"${fontObjNum + 2} 0 obj << /Length ${cb.length} " +
        s"/Subtype /Type1C >> stream\n")
      out.write(cb)
      put("\nendstream endobj\n")
    }
    if (toUnicode || cid) {
      val cmapTxt =
        if (cid) {
          // 2-byte source codes (identity): ASCII via one bfrange, every
          // other char in use via an identity bfchar entry
          val extraChars = pages.flatMap(_.runs).flatMap(_.text)
            .filter(_ > 0x7e).distinct.sorted
          val extra = extraChars
            .map(c => f"<${c.toInt}%04X> <${c.toInt}%04X>")
            .mkString("\n")
          "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
          "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n" +
          "1 beginbfrange\n<0020> <007E> <0020>\nendbfrange\n" +
          (if (extraChars.nonEmpty)
             s"${extraChars.size} beginbfchar\n$extra\nendbfchar\n"
           else "") +
          "endcmap\nend\nend\n"
        } else {
          val bfchars = codeMap.toSeq.sortBy(_._2)
            .map { case (u, code) => f"<${code.toInt}%02X> <${u.toInt}%04X>" }
            .mkString("\n")
          "/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n" +
          "1 beginbfrange\n<20> <7e> <0020>\nendbfrange\n" +
          s"${codeMap.size} beginbfchar\n$bfchars\nendbfchar\n" +
          "endcmap\nend\nend\n"
        }
      beginObj(cmapObjNum)
      val cmapBytes = encStream(cmapObjNum, cmapTxt.getBytes(Latin1))
      put(s"$cmapObjNum 0 obj << /Length ${cmapBytes.length} >> stream\n")
      out.write(cmapBytes)
      put("\nendstream endobj\n")
    }
    for ((gi, n) <- indirectLinkNums.toSeq.sortBy(_._2)) {
      beginObj(n)
      put(s"$n 0 obj ${annotDict(links(gi), gi)} endobj\n")
    }
    for (di <- info) {
      beginObj(infoNum)
      put(s"$infoNum 0 obj << /Title (${escLit(di.title)}) " +
        s"/Author (${escLit(di.author)}) /Producer (${escLit(di.producer)}) " +
        s"/CreationDate (${escLit(di.created)}) >> endobj\n")
    }
    if (doEnc) {
      beginObj(encNum)
      if (aes256)
        put(s"$encNum 0 obj << /Filter /Standard /V 5 /R 6 /Length 256 " +
          "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> " +
          "/StmF /StdCF /StrF /StdCF " +
          s"/P $encP /O <${hexOf(encO6._1)}> /OE <${hexOf(encO6._2)}> " +
          s"/U <${hexOf(encU6._1)}> /UE <${hexOf(encU6._2)}> " +
          s"/Perms <${hexOf(PdfCrypt.perms6(encKey, encP))}> >> endobj\n")
      else {
        val vr =
          if (aes) "/V 4 /R 4 /Length 128 /CF << /StdCF << /CFM /AESV2 " +
            "/AuthEvent /DocOpen /Length 16 >> >> /StmF /StdCF /StrF /StdCF "
          else "/V 2 /R 3 /Length 128 "
        put(s"$encNum 0 obj << /Filter /Standard $vr" +
          s"/P $encP /O <${hexOf(encO)}> " +
          s"/U <${hexOf(PdfCrypt.uValue(encKey, encId0))}> >> endobj\n")
      }
    }
    if (xrefStream) {
      // PDF 1.5 cross-reference stream: /W [1 4 2] big-endian rows; in-ObjStm
      // structural objects get type-2 (container, index) entries — the layout
      // modern writers pair with /ObjStm
      val inStm: Map[Int, Int] =
        if (objStm) (Seq(1, 2) ++ pages.indices.map(3 + 2 * _)).zipWithIndex.toMap
        else Map.empty
      val selfOff = out.size
      offsets(xrefStmNum) = selfOff
      val size = xrefStmNum + 1
      val rows = new java.io.ByteArrayOutputStream(size * 7)
      def row(t: Int, f2: Long, f3: Int): Unit = {
        rows.write(t)
        rows.write(((f2 >> 24) & 0xff).toInt); rows.write(((f2 >> 16) & 0xff).toInt)
        rows.write(((f2 >> 8) & 0xff).toInt); rows.write((f2 & 0xff).toInt)
        rows.write((f3 >> 8) & 0xff); rows.write(f3 & 0xff)
      }
      for (n <- 0 until size) {
        if (n == 0) row(0, 0, 0xffff)
        else offsets.get(n) match {
          case Some(o) => row(1, o.toLong, 0)
          case None => inStm.get(n) match {
            case Some(idx) => row(2, objStmNum.toLong, idx)
            case None => row(0, 0, 0)
          }
        }
      }
      // modern writers near-universally predictor-encode xref streams:
      // PNG Up (filter type 2) over the 7-byte rows + /DecodeParms
      val rawRows = rows.toByteArray
      val encoded =
        if (!predictor) rawRows
        else {
          val rl = 7
          val out2 = new Array[Byte](rawRows.length / rl * (rl + 1))
          var r = 0
          while (r * rl < rawRows.length) {
            out2(r * (rl + 1)) = 2 // Up
            var j = 0
            while (j < rl) {
              val cur = rawRows(r * rl + j) & 0xff
              val up = if (r > 0) rawRows((r - 1) * rl + j) & 0xff else 0
              out2(r * (rl + 1) + 1 + j) = ((cur - up) & 0xff).toByte
              j += 1
            }
            r += 1
          }
          out2
        }
      val dpPart =
        if (predictor) " /DecodeParms << /Predictor 12 /Columns 7 >>" else ""
      val data = deflate(encoded)
      // the xref stream itself is NEVER encrypted (§7.5.8.2) — readers need
      // it to find the /Encrypt dict in the first place
      put(s"$xrefStmNum 0 obj << /Type /XRef /Size $size /W [1 4 2] " +
        s"/Root 1 0 R$trailerEncPart$trailerInfoPart /Filter /FlateDecode$dpPart /Length ${data.length} >> stream\n")
      out.write(data)
      put(s"\nendstream endobj\nstartxref\n$selfOff\n")
    } else if (useXrefTable) {
      val size = (offsets.keys.max max objStmNum) + 1
      val xrefOff = out.size
      put("xref\n")
      put(s"0 $size\n")
      put("0000000000 65535 f \n")
      for (n <- 1 until size) offsets.get(n) match {
        case Some(o) => put(f"$o%010d 00000 n \n")
        case None => put("0000000000 65535 f \n")
      }
      put(s"trailer << /Size $size /Root 1 0 R$trailerEncPart$trailerInfoPart >>\nstartxref\n$xrefOff\n")
    }
    put("%%EOF\n")
    out.toByteArray
  }

  /** Single-page legacy surface (uncompressed, literal strings). */
  def write(pageW: Int, pageH: Int, runs: Seq[Run], scanned: Boolean = false): Array[Byte] =
    writeDoc(Seq(PageSpec(pageW, pageH, runs)), scanned = scanned)

  // ---------- parser ----------

  final case class Parsed(items: Vector[TextItem], pageW: Int, pageH: Int,
                          hasImage: Boolean, nPages: Int = 1)

  def isPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' && bytes(3) == 'F'

  /** One object: its number, its body text (between `obj` and `stream` or
    * `endobj`) and its raw stream byte range. The body is read once, on
    * first use. */
  private final case class PdfObj(num: Int, text: String,
                                  streamStart: Int, streamEnd: Int) {
    def hasStream: Boolean = streamStart >= 0
    lazy val value: AnyRef = new ContentLexer(text).value()
    /** The body's dictionary (a stream's dict); empty if the body is none. */
    def dict: PdfDict = value match {
      case d: PdfDict => d
      case _ => PdfDict.Empty
    }
  }

  // §7.3 object values as [[ContentLexer.value]] reads them. Besides these:
  // numbers are `java.lang.Double`, strings their raw bytes as Latin-1
  // chars, arrays `Vector[AnyRef]`, booleans `java.lang.Boolean`, and the
  // null object is null.
  private final case class PdfName(v: String)
  private final case class PdfRef(num: Int)

  /** A dictionary (§7.3.7). Lookups take the exact key, without its `/`,
    * at this nesting level only. */
  private final class PdfDict(keys: Array[String], vals: Array[AnyRef]) {
    def get(key: String): AnyRef = {
      var k = 0
      while (k < keys.length) {
        if (keys(k) == key) return vals(k)
        k += 1
      }
      null
    }
    def has(key: String): Boolean = keys.contains(key)
    def keysIterator: Iterator[String] = keys.iterator
    def values: Iterator[AnyRef] = vals.iterator
    def num(key: String): Option[Double] = get(key) match {
      case d: java.lang.Double => Some(d.doubleValue)
      case _ => None
    }
    def int(key: String): Option[Int] = num(key).map(_.toInt)
    def name(key: String): Option[String] = get(key) match {
      case PdfName(v) => Some(v)
      case _ => None
    }
    def is(key: String, name: String): Boolean = get(key) match {
      case PdfName(v) => v == name
      case _ => false
    }
    def ref(key: String): Option[Int] = get(key) match {
      case PdfRef(n) => Some(n)
      case _ => None
    }
    /** A reference array, or a single reference. */
    def refs(key: String): Vector[Int] = get(key) match {
      case PdfRef(n) => Vector(n)
      case a: Vector[_] => a.collect { case PdfRef(n) => n }
      case _ => Vector.empty
    }
    def str(key: String): Option[String] = get(key) match {
      case s: String => Some(s)
      case _ => None
    }
    def bytes(key: String): Option[Array[Byte]] = str(key).map(_.getBytes(Latin1))
    /** The numbers of an array value, in order. */
    def nums(key: String): Vector[Double] = get(key) match {
      case a: Vector[_] => a.collect { case d: java.lang.Double => d.doubleValue }
      case _ => Vector.empty
    }
    /** A sub-dict, written inline or as an indirect reference. */
    def dict(key: String, byNum: Map[Int, PdfObj] = Map.empty): Option[PdfDict] =
      resolve(get(key), byNum) match {
        case d: PdfDict => Some(d)
        case _ => None
      }
  }
  private object PdfDict {
    val Empty = new PdfDict(Array.empty, Array.empty)
  }

  /** `v`, with an indirect reference followed one step through `byNum`. */
  private def resolve(v: AnyRef, byNum: Map[Int, PdfObj]): AnyRef = v match {
    case PdfRef(n) => byNum.get(n).map(_.value).orNull
    case other => other
  }

  /** Every dictionary inside `v`, `v` itself first, then depth-first in file
    * order. */
  private def dictsIn(v: AnyRef): Iterator[PdfDict] = v match {
    case d: PdfDict => Iterator.single(d) ++ d.values.flatMap(dictsIn)
    case a: Vector[_] => a.iterator.flatMap(x => dictsIn(x.asInstanceOf[AnyRef]))
    case _ => Iterator.empty
  }

  /** `byNum` plus the first definition in `objs` of each number it lacks. */
  private def firstByNum(objs: Iterable[PdfObj],
                         byNum: Map[Int, PdfObj] = Map.empty): Map[Int, PdfObj] =
    objs.foldLeft(byNum) { (m, o) =>
      if (m.contains(o.num)) m else m.updated(o.num, o)
    }

  /** A text string (§7.9.2.2): UTF-16BE after a byte-order mark,
    * PDFDocEncoding (≈ Latin-1) otherwise. */
  private def textString(raw: String): String =
    if (raw.length >= 2 && raw.charAt(0) == 'þ' && raw.charAt(1) == 'ÿ')
      new String(raw.substring(2).getBytes(Latin1), StandardCharsets.UTF_16BE)
    else raw

  /** Locate `N G obj` working BACKWARD from an `obj` keyword hit: generation
    * digits, whitespace, object digits. Returns (objNum, matchStart) or null.
    * (A regex `\d+\s+\d+\s+obj` re-attempts at every digit of the
    * coordinate-dense content — this scan touches each byte once.) */
  private def objHeaderBefore(s: String, objIdx: Int): (Int, Int) = {
    var k = objIdx - 1
    if (k < 0 || !s.charAt(k).isWhitespace) return null
    while (k >= 0 && s.charAt(k).isWhitespace) k -= 1
    val genEnd = k
    while (k >= 0 && s.charAt(k).isDigit) k -= 1
    if (k == genEnd || k < 0 || !s.charAt(k).isWhitespace) return null
    while (k >= 0 && s.charAt(k).isWhitespace) k -= 1
    val numEnd = k
    while (k >= 0 && s.charAt(k).isDigit) k -= 1
    if (k == numEnd) return null
    val numStart = k + 1
    if (numEnd - numStart > 8) return null // absurd object number: not a header
    try (s.substring(numStart, numEnd + 1).toInt, numStart)
    catch { case _: NumberFormatException => null }
  }

  /** Scan the object skeleton: number, dict text, raw stream byte range.
    * A cursor skips matches that fall INSIDE a previous object's stream —
    * compressed binary data can spell "N 0 obj" by accident. */
  private def scanObjects(s: String): Vector[PdfObj] = {
    val out = Vector.newBuilder[PdfObj]
    var cursor = 0
    var objIdx = s.indexOf("obj")
    while (objIdx >= 0) {
      val boundaryOk = objIdx + 3 >= s.length ||
        { val c = s.charAt(objIdx + 3); !c.isLetterOrDigit }
      val hdr = if (boundaryOk) objHeaderBefore(s, objIdx) else null
      val num = if (hdr == null) -1 else hdr._1
      if (num >= 0 && hdr._2 >= cursor) {
        val o = objFrom(s, num, objIdx + 3)
        out += o
        cursor = if (o.hasStream) o.streamEnd else objIdx + 3
      }
      objIdx = s.indexOf("obj", objIdx + 3)
    }
    out.result()
  }

  /** Object `num` whose body starts at `bodyStart`: its body text up to
    * `stream` or `endobj`, and the stream's byte range when `stream` comes
    * first. */
  private def objFrom(s: String, num: Int, bodyStart: Int): PdfObj = {
    val endObj = s.indexOf("endobj", bodyStart)
    val bodyEnd = if (endObj < 0) s.length else endObj
    val streamKw = s.indexOf("stream", bodyStart)
    if (streamKw >= 0 && streamKw < bodyEnd) {
      var k = streamKw + "stream".length
      if (k < s.length && s.charAt(k) == '\r') k += 1
      if (k < s.length && s.charAt(k) == '\n') k += 1
      // `endstream` may sit past the `endobj` guess when the binary
      // stream itself contains the bytes "endobj" — trust endstream
      val endStream = s.indexOf("endstream", k)
      PdfObj(num, s.substring(bodyStart, streamKw), k, if (endStream < 0) bodyEnd else endStream)
    } else PdfObj(num, s.substring(bodyStart, bodyEnd), -1, -1)
  }

  // hot-path patterns, compiled ONCE (JFR: per-call Pattern.compile and the
  // substring(...).trim tail copies were ~15% of parse CPU); matchers use
  // region() on the original string instead of allocating tails
  private val ObjHeaderPat = java.util.regex.Pattern.compile("\\G\\s*(\\d+)\\s+\\d+\\s+obj")
  private val XrefKwPat = java.util.regex.Pattern.compile("\\G\\s*xref")
  private val XrefOffPat = java.util.regex.Pattern.compile("\\G\\s*(\\d+)")
  private val XrefEntryPat = java.util.regex.Pattern.compile("\\G\\s*(\\d{10})\\s+(\\d{5})\\s+([nf])")
  private val XrefSubPat = java.util.regex.Pattern.compile("\\G\\s*(\\d+)\\s+(\\d+)")

  /** `/MediaBox [a b c d]` → (c, d), the width and height. */
  private def mediaBoxOf(dict: PdfDict): Option[(Int, Int)] = {
    val box = dict.nums("MediaBox")
    if (box.length == 4) Some((box(2).toInt, box(3).toInt)) else None
  }

  /** ASCIIHexDecode (PDF 32000-1 §7.4.2): hex pairs, whitespace ignored,
    * `>` ends the data, odd final digit takes low nibble 0. */
  private def asciiHexDecode(txt: String): String = {
    val sb = new java.lang.StringBuilder(txt.length / 2 + 1)
    var hi = -1
    var k = 0
    var done = false
    while (k < txt.length && !done) {
      val ch = txt.charAt(k)
      if (ch == '>') done = true
      else {
        val d = Character.digit(ch, 16)
        if (d >= 0) {
          if (hi < 0) hi = d
          else { sb.append(((hi << 4) | d).toChar); hi = -1 }
        }
      }
      k += 1
    }
    if (hi >= 0) sb.append((hi << 4).toChar)
    sb.toString
  }

  /** ASCII85Decode (PDF 32000-1 §7.4.3): base-85 groups of 5 chars
    * (`!`..`u`) → 4 bytes big-endian, `z` (only between groups) shorthand
    * for four zero bytes, whitespace ignored, `~>` ends the data. A partial
    * final group of n ≥ 2 chars yields n−1 bytes (virtually padded with
    * `u`). An out-of-range char ends the data — the decode is total. */
  private def ascii85Decode(txt: String): String = {
    val sb = new java.lang.StringBuilder(txt.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var n = 0
    var k = 0
    var done = false
    def flush(cnt: Int): Unit = {
      var v = 0L
      var j = 0
      while (j < 5) { v = v * 85 + (if (j < cnt) grp(j) else 84); j += 1 }
      var sh = 24
      var i = 0
      while (i < cnt - 1) { sb.append(((v >>> sh) & 0xff).toChar); sh -= 8; i += 1 }
    }
    while (k < txt.length && !done) {
      val ch = txt.charAt(k)
      if (ch == '~') done = true
      else if (ch == 'z' && n == 0) sb.append("\u0000\u0000\u0000\u0000")
      else if (ch >= '!' && ch <= 'u') {
        grp(n) = ch - '!'
        n += 1
        if (n == 5) { flush(5); n = 0 }
      } else if (!Character.isWhitespace(ch)) done = true
      k += 1
    }
    if (n >= 2) flush(n)
    sb.toString
  }

  /** RunLengthDecode (PDF 32000-1 §7.4.5): length byte L then either L+1
    * literal bytes (L ≤ 127) or one byte repeated 257−L times (L ≥ 129);
    * L = 128 ends the data. Truncated input decodes as far as it goes. */
  private def runLengthDecode(txt: String): String = {
    val sb = new java.lang.StringBuilder(txt.length * 2 + 8)
    var k = 0
    var done = false
    while (k < txt.length && !done) {
      val l = txt.charAt(k) & 0xff
      k += 1
      if (l == 128) done = true
      else if (l < 128) {
        val cnt = math.min(l + 1, txt.length - k)
        sb.append(txt, k, k + cnt)
        k += cnt
      } else if (k < txt.length) {
        val b = txt.charAt(k)
        k += 1
        var i = 0
        val cnt = 257 - l
        while (i < cnt) { sb.append(b); i += 1 }
      }
    }
    sb.toString
  }

  private def inflate(s: String, from: Int, until: Int): String = {
    val n = math.max(0, until - from)
    val in = new Array[Byte](n)
    var i = 0
    while (i < n) { in(i) = s.charAt(from + i).toByte; i += 1 }
    val inf = new java.util.zip.Inflater()
    inf.setInput(in)
    // inflate straight into one growable array (no BAOS + scratch buffer —
    // the old shape cost ~3 extra array copies per stream, and inflate runs
    // once per content stream on the hot path)
    var out = new Array[Byte](math.min(InflateCap, n * 4 + 64))
    var len = 0
    try {
      var done = false
      while (!done && len < InflateCap) {
        if (len == out.length) {
          val grown = new Array[Byte](math.min(InflateCap, out.length * 2))
          System.arraycopy(out, 0, grown, 0, len)
          out = grown
        }
        val k = inf.inflate(out, len, out.length - len)
        if (k > 0) len += k
        else done = true // matches the previous loop: any 0-byte round ends it
      }
    } catch { case _: java.util.zip.DataFormatException => /* keep partial */ }
    finally inf.end()
    new String(out, 0, len, Latin1)
  }

  /** Undo a `/DecodeParms /Predictor` pass after Flate/LZW decompression
    * (PDF 32000-1 §7.4.4.4). Predictor ≥ 10 is the PNG family: each row is a
    * filter-type byte + `ceil(columns·colors·bpc/8)` data bytes, filters
    * None/Sub/Up/Average/Paeth (RFC 2083 §6) applied per byte-per-pixel unit.
    * Predictor 2 is the TIFF horizontal differencing (bpc=8 form). Real
    * writers put Predictor 12 (PNG Up) on xref streams almost universally.
    * Tolerant: a truncated final row decodes as far as the data goes. */
  private def unpredict(data: String, predictor: Int, columns: Int,
                        colors: Int, bpc: Int): String = {
    if (predictor < 2 || columns <= 0 || colors <= 0 || bpc <= 0) return data
    val bpp = math.max(1, colors * bpc / 8)
    val rowLen = (columns * colors * bpc + 7) / 8
    if (rowLen <= 0 || rowLen > InflateCap) return data
    if (predictor == 2) {
      if (bpc != 8) return data // sub-byte TIFF differencing: out of scope
      val out = new Array[Byte](data.length)
      var k = 0
      while (k < data.length) {
        val inRow = k % rowLen
        val left = if (inRow >= bpp) out(k - bpp).toInt & 0xff else 0
        out(k) = (((data.charAt(k) & 0xff) + left) & 0xff).toByte
        k += 1
      }
      return new String(out, Latin1)
    }
    // PNG family: rows of 1 + rowLen; a truncated final row (filter byte +
    // fewer than rowLen data bytes) decodes as far as the data extends
    val nRows = data.length / (1 + rowLen)
    val tailData = math.max(0, data.length - nRows * (1 + rowLen) - 1)
    val outLen = nRows * rowLen + tailData
    val out = new Array[Byte](outLen)
    val totalRows = nRows + (if (tailData > 0) 1 else 0)
    var row = 0
    while (row < totalRows) {
      val thisLen = if (row < nRows) rowLen else tailData
      val ft = data.charAt(row * (1 + rowLen)) & 0xff
      val src = row * (1 + rowLen) + 1
      val dst = row * rowLen
      var j = 0
      while (j < thisLen) {
        val raw = data.charAt(src + j) & 0xff
        val left = if (j >= bpp) out(dst + j - bpp).toInt & 0xff else 0
        val up = if (row > 0) out(dst - rowLen + j).toInt & 0xff else 0
        val upLeft = if (row > 0 && j >= bpp) out(dst - rowLen + j - bpp).toInt & 0xff else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + (left + up) / 2
          case 4 => // Paeth
            val p = left + up - upLeft
            val pa = math.abs(p - left); val pb = math.abs(p - up); val pc = math.abs(p - upLeft)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft)
          case _ => raw // unknown filter type: pass through
        }
        out(dst + j) = (v & 0xff).toByte
        j += 1
      }
      row += 1
    }
    new String(out, 0, outLen, Latin1)
  }

  /** A stream's `/DecodeParms` (or `/DP`) dict: inline, indirect, or the
    * first dict of a per-filter array. */
  private def decodeParms(dict: PdfDict, byNum: Map[Int, PdfObj]): Option[PdfDict] =
    resolve(Option(dict.get("DecodeParms")).getOrElse(dict.get("DP")), byNum) match {
      case d: PdfDict => Some(d)
      case a: Vector[_] => a.collectFirst { case d: PdfDict => d }
      case _ => None
    }

  /** `/DecodeParms` (or `/DP`) predictor application for a stream dict. */
  private def applyDecodeParms(dict: PdfDict, byNum: Map[Int, PdfObj],
                               data: String): String =
    decodeParms(dict, byNum) match {
      case Some(dp) =>
        val pred = dp.int("Predictor").getOrElse(1)
        if (pred < 2) data
        else unpredict(data, pred,
          dp.int("Columns").getOrElse(1),
          dp.int("Colors").getOrElse(1),
          dp.int("BitsPerComponent").getOrElse(8))
      case None => data
    }

  /** `/LZWDecode` (PDF 32000-1 §7.4.4.2, the TIFF LZW variant): 9→12-bit
    * codes packed MSB-first, 256 = clear-table, 257 = EOD, EarlyChange = 1
    * (the default — code width grows one code before the table boundary;
    * table freezes at 4096, no mid-stream clears required). Tolerant: corrupt
    * codes or a missing EOD yield the bytes decoded so far. */
  private def lzwDecode(s: String, from: Int, until: Int): String = {
    val out = new java.lang.StringBuilder(math.min(InflateCap, math.max(16, (until - from) * 3)))
    val table = new Array[String](4096)
    var t = 0
    while (t < 256) { table(t) = t.toChar.toString; t += 1 }
    var nextCode = 258
    var width = 9
    var prev: String = null
    var bitBuf = 0L; var bits = 0
    var k = from
    var done = false
    while (k < until && !done && out.length < InflateCap) {
      bitBuf = (bitBuf << 8) | (s.charAt(k) & 0xff); bits += 8; k += 1
      while (bits >= width && !done) {
        val code = ((bitBuf >>> (bits - width)) & ((1L << width) - 1)).toInt
        bits -= width
        if (code == 256) { nextCode = 258; width = 9; prev = null }
        else if (code == 257) done = true
        else {
          val entry =
            if (code < nextCode && code < 4096 && table(code) != null) table(code)
            else if (prev != null && code == nextCode) prev + prev.charAt(0) // KwKwK
            else { done = true; null } // corrupt stream: keep what decoded
          if (entry != null) {
            out.append(entry)
            if (prev != null && nextCode < 4096) {
              table(nextCode) = prev + entry.charAt(0)
              nextCode += 1
              // EarlyChange=1: the width for the NEXT read grows one code
              // before the table boundary (pdf.js/TIFF convention)
              if (nextCode + 1 >= (1 << width) && width < 12) width += 1
            }
            prev = entry
          }
        }
      }
    }
    out.toString
  }

  /** Ordered `/Filter` chain of a stream dict (PDF 32000-1 §7.4.1): a
    * single name or an array listing filters in the order they must be
    * APPLIED to decode, either one written inline or as an indirect object
    * (a layout some real writers emit, ADVICE r04). Empty when the stream
    * is stored raw. */
  private def filterNames(dict: PdfDict, byNum: Map[Int, PdfObj]): List[String] =
    resolve(dict.get("Filter"), byNum) match {
      case PdfName(f) => List(f)
      case a: Vector[_] => a.iterator.collect { case PdfName(f) => f }.toList
      case _ => Nil
    }

  /** Decoded text of `o`'s stream, whose stored bytes are the chars
    * `[from, until)` of `src`. The `/Filter`
    * chain is applied strictly in its declared order (§7.4.1) across the
    * five text-capable filters real writers emit — `/FlateDecode`,
    * `/LZWDecode`, `/ASCIIHexDecode`, `/ASCII85Decode`,
    * `/RunLengthDecode` — so hex/base-85 armor over compression unwraps in
    * whatever order the file states rather than an assumed one. An image
    * or crypt filter name (`/DCTDecode`, `/CCITTFaxDecode`,
    * `/JBIG2Decode`, …) ends decoding: those streams carry pixel data the
    * image codecs read raw via their own path. A `/DecodeParms` predictor
    * (PNG/TIFF) is undone after full decompression. `byNum` resolves an
    * indirect `/Filter` or `/DecodeParms`. */
  private def decodeStream(o: PdfObj, src: String, from: Int, until: Int,
                           byNum: Map[Int, PdfObj]): String = {
    val chain = filterNames(o.dict, byNum)
    if (chain.isEmpty) return src.substring(from, until)
    // fast paths: the overwhelmingly common single-filter streams decode
    // straight out of the source string with no substring copy
    val decoded: String = chain match {
      case "FlateDecode" :: Nil => inflate(src, from, until)
      case "LZWDecode" :: Nil => lzwDecode(src, from, until)
      case _ =>
        var cur = src.substring(from, until)
        var rest = chain
        while (rest.nonEmpty) {
          rest.head match {
            case "FlateDecode" => cur = inflate(cur, 0, cur.length)
            case "LZWDecode" => cur = lzwDecode(cur, 0, cur.length)
            case "ASCIIHexDecode" => cur = asciiHexDecode(cur)
            case "ASCII85Decode" => cur = ascii85Decode(cur)
            case "RunLengthDecode" => cur = runLengthDecode(cur)
            case _ => return cur // image/crypt filter: raw bytes, codec-owned
          }
          rest = rest.tail
        }
        cur
    }
    applyDecodeParms(o.dict, byNum, decoded)
  }

  /** Parse the object whose header sits at byte offset `off` (as recorded in
    * a classic xref table): `N G obj` then either a plain dict body or a
    * stream with the usual endstream/endobj recovery. */
  private def objAt(s: String, off: Int): Option[PdfObj] = {
    if (off < 0 || off >= s.length) return None
    val m = ObjHeaderPat.matcher(s)
    m.region(off, math.min(s.length, off + 64))
    if (!m.lookingAt()) return None
    val num = try m.group(1).toInt catch { case _: NumberFormatException => return None }
    Some(objFrom(s, num, m.end()))
  }

  /** Everything one xref chain resolves: type-1 entries (objNum → byte
    * offset), type-2 entries (objNum → (container ObjStm num, index within
    * it)), and the newest trailer/XRef dict. */
  private final case class XrefInfo(offsets: Map[Int, Int],
                                    inStm: Map[Int, (Int, Int)],
                                    trailer: Option[PdfDict])

  /** The dict after the `trailer` keyword at `at`. */
  private def trailerAt(s: String, at: Int): Option[PdfDict] =
    new ContentLexer(s, at + "trailer".length).value() match {
      case d: PdfDict => Some(d)
      case _ => None
    }

  /** Cross-reference chain: follow `startxref` to the newest section, then
    * `/Prev` links to older ones, NEWEST-section-wins — this is what makes
    * incremental updates (same object number redefined later in the file)
    * resolve to the live definition. Handles BOTH section kinds:
    *
    *  - classic tables (§7.5.4): `xref` keyword, `start count` subsections,
    *    20-byte `offset gen n/f` entries, `trailer << … >>`;
    *  - cross-reference STREAMS (§7.5.8, PDF 1.5+): a `/Type /XRef` stream
    *    object whose dict doubles as the trailer; binary rows of `/W`-sized
    *    big-endian fields, `/Index` subsections, type 1 = byte offset,
    *    type 2 = (ObjStm number, index) — the layout every modern PDF
    *    writer emits together with `/ObjStm`.
    *
    * Malformed sections yield whatever parsed (the linear object scan
    * remains the fallback). */
  private def parseXrefChain(s: String): XrefInfo = {
    val sx = s.lastIndexOf("startxref")
    if (sx < 0) return XrefInfo(Map.empty, Map.empty, None)
    val offM = XrefOffPat.matcher(s)
    offM.region(sx + "startxref".length, math.min(s.length, sx + 64))
    if (!offM.lookingAt()) return XrefInfo(Map.empty, Map.empty, None)
    val offsets = mutable.Map.empty[Int, Int]
    val inStm = mutable.Map.empty[Int, (Int, Int)]
    def taken(num: Int) = offsets.contains(num) || inStm.contains(num)
    var trailerDict: Option[PdfDict] = None
    val seen = mutable.Set.empty[Int]
    var cur = try offM.group(1).toInt catch { case _: NumberFormatException => -1 }
    val entryPat = XrefEntryPat
    val subPat = XrefSubPat
    while (cur >= 0 && cur < s.length && seen.add(cur)) {
      var next = -1
      val xm = XrefKwPat.matcher(s)
      xm.region(cur, math.min(s.length, cur + 32))
      if (xm.lookingAt()) {
        // ---- classic table ----
        var pos = xm.end()
        var more = true
        while (more) {
          val sm = subPat.matcher(s)
          sm.region(pos, math.min(s.length, pos + 64))
          if (sm.lookingAt()) {
            val start = sm.group(1).toInt
            val count = sm.group(2).toInt
            pos = sm.end()
            var k = 0
            var ok = true
            while (k < count && ok) {
              val em = entryPat.matcher(s)
              em.region(pos, math.min(s.length, pos + 64))
              if (em.lookingAt()) {
                if (em.group(3) == "n") {
                  val num = start + k
                  if (!taken(num)) offsets(num) = em.group(1).toInt
                }
                pos = em.end(); k += 1
              } else { ok = false; more = false }
            }
          } else more = false
        }
        val tr = s.indexOf("trailer", pos)
        if (tr >= 0) trailerAt(s, tr).foreach { d =>
          if (trailerDict.isEmpty) trailerDict = Some(d)
          next = d.int("Prev").getOrElse(-1)
        }
      } else objAt(s, cur) match {
        // ---- xref stream ----
        case Some(o) if o.dict.is("Type", "XRef") && o.hasStream =>
          val w = o.dict.nums("W").map(_.toInt)
          val size = o.dict.int("Size").getOrElse(0)
          if (w.length >= 3 && w.forall(x => x >= 0 && x <= 8)) {
            val idx0 = o.dict.nums("Index").map(_.toInt)
            val index = if (idx0.length >= 2) idx0.grouped(2).collect {
              case Vector(a, b) => (a, b) }.toVector else Vector((0, size))
            // §7.5.8.2: an xref stream's own entries are direct objects
            val data = decodeStream(o, s, o.streamStart, o.streamEnd, Map.empty)
            val rowLen = w.take(3).sum
            def field(pos: Int, width: Int): Long = {
              var v = 0L; var j = 0
              while (j < width) { v = (v << 8) | (data.charAt(pos + j) & 0xff); j += 1 }
              v
            }
            var pos = 0
            for ((start, count) <- index; k <- 0 until count
                 if pos + rowLen <= data.length) {
              val t = if (w(0) == 0) 1L else field(pos, w(0))
              val f2 = field(pos + w(0), w(1))
              val f3 = field(pos + w(0) + w(1), w(2))
              val num = start + k
              if (!taken(num)) t match {
                case 1L => offsets(num) = f2.toInt
                case 2L => inStm(num) = (f2.toInt, f3.toInt)
                case _ => // free / unknown type
              }
              pos += rowLen
            }
          }
          if (trailerDict.isEmpty) trailerDict = Some(o.dict)
          next = o.dict.int("Prev").getOrElse(-1)
        case _ =>
      }
      cur = next
    }
    XrefInfo(offsets.toMap, inStm.toMap, trailerDict)
  }

  /** Expand `/Type /ObjStm` object streams (PDF 32000-1 §7.5.7): inflate,
    * read the N (objnum, relative-offset) header pairs, slice out each
    * embedded dict-only object. Keyed by container object number so xref
    * type-2 entries (`objNum → (container, index)`) can resolve
    * authoritatively; the scan-based flat view fills in numbers no xref
    * mentions. The recovered objects never shadow a top-level definition.
    * Containers come from the linear scan, which resolves their indirect
    * `/Filter` and `/DecodeParms`. */
  private def expandObjStms(doc: Doc): Map[Int, Vector[PdfObj]] = {
    val out = Map.newBuilder[Int, Vector[PdfObj]]
    for (o <- doc.objs if o.hasStream && o.dict.is("Type", "ObjStm")) {
      val data = doc.streamText(o, doc.linearByNum)
      val first = o.dict.int("First").getOrElse(-1)
      val n = o.dict.int("N").getOrElse(0)
      if (first > 0 && first <= data.length && n > 0 && n <= 10000) {
        val header = data.substring(0, first).trim.split("\\s+")
        if (header.length >= 2 * n) {
          val pairs = (0 until n).flatMap { k =>
            try Some((header(2 * k).toInt, header(2 * k + 1).toInt))
            catch { case _: NumberFormatException => None }
          }
          val objsIn = Vector.newBuilder[PdfObj]
          for (((num, rel), k) <- pairs.zipWithIndex) {
            val from = first + rel
            val until = if (k + 1 < pairs.length) math.min(data.length, first + pairs(k + 1)._2)
                        else data.length
            if (from >= 0 && from <= until && until <= data.length)
              objsIn += PdfObj(num, data.substring(from, until), -1, -1)
          }
          out += o.num -> objsIn.result()
        }
      }
    }
    out.result()
  }

  /** What the interpreter needs to know about one font resource: declared
    * simple encoding and the `/ToUnicode` CMap (byte code → Unicode string),
    * which — as in PyMuPDF — takes precedence for text extraction. */
  /** `widths`/`dw` (per-code advance, /1000 units), `asc`/`desc` (per-em,
    * positive) feed ONLY the native-route extractor ([[parseNative]]): the
    * legacy geometry model in [[interpret]] never reads them, so adding them
    * cannot move any byte of the synthetic-corpus goldens. */
  private final case class FontInfo(winAnsi: Boolean, cmap: Map[Int, String],
                                    twoByte: Boolean = false,
                                    diffs: Map[Int, Char] = Map.empty,
                                    widths: Map[Int, Double] = Map.empty,
                                    dw: Double = 500.0,
                                    asc: Double = 0.8,
                                    desc: Double = 0.2)
  private val DefaultFont = FontInfo(winAnsi = false, cmap = Map.empty)

  /** `/Encoding` resolution beyond the bare `/WinAnsiEncoding` name: the
    * dictionary form (inline or an indirect object) carrying
    * `/BaseEncoding` and a `/Differences` array — "code /name /name ..."
    * groups where each name maps the next consecutive code (PDF 32000-1
    * §9.6.6.3). Returns (baseIsWinAnsi, code → char); glyph names resolve
    * through the AGL subset + `uniXXXX` ([[Glyphs]]); unknown names keep
    * their base-encoding meaning. */
  private def encodingOf(fontDict: PdfDict, byNum: Map[Int, PdfObj])
      : (Boolean, Map[Int, Char]) =
    fontDict.dict("Encoding", byNum) match {
      case None => (false, Map.empty)
      case Some(d) =>
        val out = Map.newBuilder[Int, Char]
        var code = 0
        d.get("Differences") match {
          case a: Vector[_] => a.foreach {
            case n: java.lang.Double => code = n.intValue
            case PdfName(g) =>
              Glyphs.charOf(g).foreach(c => out += code -> c)
              code += 1
            case _ =>
          }
          case _ =>
        }
        (d.is("BaseEncoding", "WinAnsiEncoding"), out.result())
    }

  private val CMapCharPat = java.util.regex.Pattern
    .compile("<([0-9A-Fa-f]{2,4})>\\s*<([0-9A-Fa-f]+)>")
  private val CMapRangePat = java.util.regex.Pattern
    .compile("<([0-9A-Fa-f]{2,4})>\\s*<([0-9A-Fa-f]{2,4})>\\s*<([0-9A-Fa-f]+)>")
  private val CMapBfRangePat = java.util.regex.Pattern
    .compile("beginbfrange(.*?)endbfrange", java.util.regex.Pattern.DOTALL)
  private val CMapBfCharPat = java.util.regex.Pattern
    .compile("beginbfchar(.*?)endbfchar", java.util.regex.Pattern.DOTALL)

  /** Parse a `/ToUnicode` CMap's `bfchar`/`bfrange` sections (PDF 32000-1
    * §9.10.3 / Adobe CMap spec): 1–2 byte source codes, UTF-16BE
    * destinations; ranges support the scalar-destination form with the
    * standard last-code-unit increment. Tolerant — anything unparseable is
    * skipped. */
  private def parseCMap(txt: String): (Map[Int, String], Boolean) = {
    val out = mutable.Map.empty[Int, String]
    var twoByte = false
    def dst(hex: String): String = {
      val sb = new java.lang.StringBuilder(hex.length / 4)
      var k = 0
      while (k + 4 <= hex.length) {
        sb.append(Integer.parseInt(hex.substring(k, k + 4), 16).toChar)
        k += 4
      }
      sb.toString
    }
    val charPat = CMapCharPat
    val rangePat = CMapRangePat
    def sections(kw: String): Iterator[String] = {
      val p = if (kw == "bfrange") CMapBfRangePat else CMapBfCharPat
      val m = p.matcher(txt)
      Iterator.continually(m).takeWhile(_.find()).map(_.group(1))
    }
    try {
      for (sec <- sections("bfrange")) {
        val m = rangePat.matcher(sec)
        while (m.find()) {
          if (m.group(1).length == 4) twoByte = true
          val lo = Integer.parseInt(m.group(1), 16)
          val hi = Integer.parseInt(m.group(2), 16)
          val d = dst(m.group(3))
          if (d.nonEmpty && hi >= lo && hi - lo <= 0xffff) {
            var c = lo
            while (c <= hi) {
              out(c) = d.dropRight(1) + (d.last + (c - lo)).toChar
              c += 1
            }
          }
        }
      }
      for (sec <- sections("bfchar")) {
        val m = charPat.matcher(sec)
        while (m.find()) {
          if (m.group(1).length == 4) twoByte = true
          out(Integer.parseInt(m.group(1), 16)) = dst(m.group(2))
        }
      }
    } catch { case _: Exception => /* keep what parsed */ }
    (out.toMap, twoByte)
  }

  /** CID `/W` array (PDF 32000-1 §9.7.4.3) → cid → advance width (glyph
    * units, /1000). Both forms: `c [w1 w2 …]` assigns consecutive cids;
    * `c1 c2 w` assigns a range. */
  private def parseWArray(w: AnyRef): Map[Int, Double] = {
    val a = w match {
      case v: Vector[_] => v
      case _ => Vector.empty
    }
    def num(k: Int): Option[Double] = a.lift(k).collect { case d: java.lang.Double => d.doubleValue }
    val out = Map.newBuilder[Int, Double]
    var t = 0
    while (t < a.length) {
      (num(t), a.lift(t + 1), num(t + 1), num(t + 2)) match {
        case (Some(c), Some(run: Vector[_]), _, _) =>
          for ((x: java.lang.Double, k) <- run.zipWithIndex) out += (c.toInt + k) -> x.doubleValue
          t += 2
        case (Some(c1), _, Some(c2), Some(width)) =>
          var cid = c1.toInt
          while (cid <= c2 && cid - c1 <= 65535) { out += cid -> width; cid += 1 }
          t += 3
        case _ => t += 1
      }
    }
    out.result()
  }

  /** Advance widths + vertical metrics for one font dict — feeds ONLY the
    * native extractor. CID fonts resolve through `/DescendantFonts` (the
    * `/W`/`/DW` arrays live on the descendant); simple fonts read
    * `/FirstChar` + `/Widths`; ascent/descent come from the
    * `/FontDescriptor` (per-mille, descent stored positive-down). */
  private def fontMetrics(fontDict: PdfDict, byNum: Map[Int, PdfObj])
      : (Map[Int, Double], Double, Double, Double) = {
    val metricsDict = fontDict.refs("DescendantFonts").headOption
      .flatMap(byNum.get).map(_.dict).getOrElse(fontDict)
    val cidWidths = parseWArray(metricsDict.get("W"))
    val widths =
      if (cidWidths.nonEmpty) cidWidths
      else {
        val first = fontDict.int("FirstChar").getOrElse(0)
        fontDict.nums("Widths").zipWithIndex.map { case (w, k) => (first + k) -> w }.toMap
      }
    val dw = metricsDict.num("DW").getOrElse(500.0)
    val fd = metricsDict.dict("FontDescriptor", byNum)
    val asc = fd.flatMap(_.num("Ascent")).map(_ / 1000.0).getOrElse(0.8)
    val desc = fd.flatMap(_.num("Descent")).map(v => math.abs(v) / 1000.0).getOrElse(0.2)
    (widths, dw, asc, desc)
  }

  /** A page's or form's `/Resources` (inline or indirect; else `inherited`'s)
    * → the named sub-dict (`/Font`, `/XObject`) → its name → object
    * entries. */
  private def resourceObjs(dict: PdfDict, inherited: Option[PdfDict], kind: String,
                           byNum: Map[Int, PdfObj]): Iterator[(String, PdfObj)] =
    dict.dict("Resources", byNum).orElse(inherited.flatMap(_.dict("Resources", byNum)))
      .flatMap(_.dict(kind, byNum)).iterator
      .flatMap(d => d.keysIterator.flatMap(k => d.ref(k).flatMap(byNum.get).map(k -> _)))

  /** Per-font info for a page: resolve `/Resources` (inline dict or
    * reference, page-level else inherited), then `/Font << /Fi N 0 R … >>`,
    * then each font object's `/Encoding` and `/ToUnicode`. */
  private def fontInfos(doc: Doc, pageDict: PdfDict,
                        inherited: Option[PdfDict]): Map[String, FontInfo] = {
    import doc.byNum
    resourceObjs(pageDict, inherited, "Font", byNum).flatMap { case (name, fontObj) =>
      val fontDict = fontObj.dict
      val (cmap, twoByteCmap) = fontDict.ref("ToUnicode").flatMap(byNum.get)
        .map(o => parseCMap(doc.streamText(o))).getOrElse((Map.empty[Int, String], false))
      // code width is an ENCODING property: Identity-H/V composite fonts
      // consume 2 bytes/glyph even when no ToUnicode says so
      val twoByte = twoByteCmap || fontDict.is("Encoding", "Identity-H") ||
        fontDict.is("Encoding", "Identity-V")
      val (baseWin, diffs) = encodingOf(fontDict, byNum)
      val winAnsi = baseWin || fontDict.is("Encoding", "WinAnsiEncoding")
      // no declared encoding anywhere: fall back to the embedded font
      // program — /FontDescriptor → /FontFile2 → sfnt cmap(3,0)+post
      // glyph names → Unicode (the subset-font reality; the map rides
      // the same slot as /Differences, both are code → char)
      def program(d: PdfDict, key: String): Option[Array[Byte]] =
        d.ref(key).flatMap(byNum.get).filter(_.hasStream)
          .map(o => doc.streamText(o).getBytes(Latin1))
      val ttfDiffs: Map[Int, Char] =
        if (winAnsi || cmap.nonEmpty || diffs.nonEmpty) Map.empty
        else fontDict.dict("FontDescriptor", byNum).flatMap { d =>
          // /FontFile2 → sfnt cmap(3,0)+post; /FontFile3 (/Type1C) →
          // CFF Encoding→charset→strings — both end in Glyphs
          program(d, "FontFile2").map(TrueTypeFont.codeMap)
            .orElse(program(d, "FontFile3").map(CffFont.codeMap))
        }.getOrElse(Map.empty)
      val allDiffs = if (diffs.nonEmpty) diffs else ttfDiffs
      val (widths, dw, asc, desc) = fontMetrics(fontDict, byNum)
      // a CID font with /W but no ToUnicode still matters to the native
      // route (advances drive geometry even when codes decode raw)
      if (winAnsi || cmap.nonEmpty || allDiffs.nonEmpty || widths.nonEmpty)
        Some(name -> FontInfo(winAnsi, cmap, twoByte, allDiffs, widths, dw, asc, desc))
      else None
    }.toMap
  }

  /** A Form XObject ready for execution by the `Do` operator: decoded
    * content plus the form's OWN font/XObject resources (empty maps → the
    * invoking context's resources apply, per PDF 32000-1 §8.10.1 note). */
  private final case class FormX(content: String, fonts: Map[String, FontInfo],
                                 forms: Map[String, FormX],
                                 matrix: Array[Double] = Array(1, 0, 0, 1, 0, 0))

  /** Resolve a dict's `/Resources → /XObject` entries to executable
    * `/Subtype /Form` streams (image XObjects are skipped — `Do` on them
    * paints pixels, no text). Real PDFs put letterheads, stamps, and
    * entire page bodies in forms, and forms nest; `depth` caps the eager
    * resolution (and with it any reference cycle) at 3 levels. */
  private def formInfos(doc: Doc, dict: PdfDict, inherited: Option[PdfDict],
                        depth: Int = 0): Map[String, FormX] =
    if (depth > 2) Map.empty
    else resourceObjs(dict, inherited, "XObject", doc.byNum).collect {
      case (name, o) if o.dict.is("Subtype", "Form") && o.hasStream =>
        // /Matrix (form space → user space, PDF §8.10.1) feeds the
        // native route's CTM; the legacy interpreter ignores it
        val m = o.dict.nums("Matrix")
        name -> FormX(doc.streamText(o),
          fontInfos(doc, o.dict, None),
          formInfos(doc, o.dict, None, depth + 1),
          if (m.length == 6) m.toArray else Array(1.0, 0, 0, 1, 0, 0))
    }.toMap

  /** windows-1252 view of a raw byte-per-char string — applied when the
    * current font declares `/WinAnsiEncoding` (maps 0x80–0x9F to smart
    * quotes, dashes, €, …; the rest coincides with Latin-1). */
  private def winAnsiText(raw: String): String = {
    var needs = false
    var k = 0
    while (k < raw.length && !needs) {
      val c = raw.charAt(k)
      if (c >= 0x80 && c <= 0x9f) needs = true
      k += 1
    }
    if (!needs) raw
    else {
      val bytes = new Array[Byte](raw.length)
      var j = 0
      while (j < raw.length) { bytes(j) = (raw.charAt(j) & 0xff).toByte; j += 1 }
      new String(bytes, "windows-1252")
    }
  }

  // cp1252's 0x80-0x9F block (JDK charset is the authoritative table)
  private lazy val Cp1252Hi: Array[Char] =
    (0x80 to 0x9f).map(b => new String(Array(b.toByte), "windows-1252").charAt(0)).toArray

  /** Byte decode for a simple font carrying `/Differences`: the array's
    * mapping wins per code, anything else falls back to the base encoding
    * (cp1252 when `/BaseEncoding /WinAnsiEncoding`, else Latin-1). */
  private def diffText(raw: String, diffs: Map[Int, Char],
                       winAnsiBase: Boolean): String = {
    val sb = new java.lang.StringBuilder(raw.length)
    var k = 0
    while (k < raw.length) {
      val code = raw.charAt(k) & 0xff
      sb.append(diffs.getOrElse(code,
        if (winAnsiBase && code >= 0x80 && code <= 0x9f) Cp1252Hi(code - 0x80)
        else code.toChar))
      k += 1
    }
    sb.toString
  }

  /** Page-tree walk + content-stream interpretation → positioned TextItems
    * (with 1-based page numbers). Tolerant: unknown operators are skipped; a
    * malformed stream yields the items recovered so far; no recognizable page
    * tree ⇒ every stream interpreted as page 1 (round-1 dialect and garbage
    * both land here). */
  def parse(bytes: Array[Byte]): Parsed = parseImpl(bytes, run = true)

  /** [[parse]] with a password try-list for documents protected by a REAL
    * (non-empty) password — each candidate is tried as user then owner
    * password (see [[Crypt.open]]). The empty password is always
    * tried first, so `parse(bytes, pws)` on an unprotected or
    * empty-password document equals `parse(bytes)`. */
  def parse(bytes: Array[Byte], passwords: Seq[String]): Parsed =
    parseImpl(bytes, run = true, passwords = passwords)

  /** Native-route extraction: the PyMuPDF-twin structured-text contract the
    * reference's `smart_extract.extract_native` (smart_extract.py:64-97)
    * consumes — spans with synthesized spaces, int-truncated top-origin
    * bboxes from real font metrics, full CTM/Tm/form-matrix geometry.
    * Validated byte-for-byte against the reference's own artifacts on its
    * 241 real PDFs (see the native-route section header below). [[parse]]
    * keeps the legacy approximate-geometry contract the synthetic-corpus
    * goldens are pinned to; this is the parser to point at REAL files. */
  def parseNative(bytes: Array[Byte]): Parsed =
    parseImpl(bytes, run = true, native = true)

  /** [[parseNative]] with a password try-list (see [[parse]] overload). */
  def parseNative(bytes: Array[Byte], passwords: Seq[String]): Parsed =
    parseImpl(bytes, run = true, native = true, passwords = passwords)

  /** Structure resolution only (objects, xref, page tree, stream decode) with
    * content interpretation skipped — a profiling seam, not a public API. */
  private[graft] def parseStructureOnly(bytes: Array[Byte]): Parsed =
    parseImpl(bytes, run = false)

  /** Writer-dialect census of one payload: a sorted comma-joined tag set
    * naming the structural PDF features present (xref form, stream filters,
    * encryption flavor, font encoding mechanisms, image codecs, page-tree
    * shape) — the crawl-ops "what is actually in my corpus" operator that
    * decides which parser tiers matter at 10^12 documents. Non-PDF payloads
    * tag as `html`. Total: any malformed structure yields whatever tags the
    * skeleton still shows; never throws. ObjStm containers are expanded
    * (after decryption) so dicts hidden in compressed object streams still
    * count. */
  def dialect(payload: Array[Byte]): String = {
    if (payload == null || payload.isEmpty) return "empty"
    if (!isPdf(payload)) return "html"
    try {
      val doc = new Doc(payload)
      val s = doc.s
      val tags = scala.collection.mutable.SortedSet.empty[String]
      // encryption flavor lives in the plaintext /Encrypt dict
      if (s.contains("/Encrypt")) {
        if (s.contains("/AESV3")) tags += "enc:aes256"
        else if (s.contains("/AESV2")) tags += "enc:aes128"
        else tags += "enc:rc4"
      }
      // dicts inside /ObjStm containers are Flate-compressed (and encrypted
      // when the doc is): the expanded ones count too
      val all = doc.all
      val texts = all.map(_.text)
      def any(marker: String, tag: String): Unit =
        if (texts.exists(_.contains(marker))) tags += tag
      // `/Type` and `/Subtype` markers, nested dicts (inline annotations)
      // included
      val dicts = all.flatMap(o => dictsIn(o.value))
      def anyTyped(key: String, name: String, tag: String): Unit =
        if (dicts.exists(_.is(key, name))) tags += tag
      anyTyped("Type", "XRef", "xref:stream")
      if (!tags.contains("xref:stream")) {
        val xi = s.indexOf("\nxref")
        if (xi >= 0 || s.startsWith("xref")) tags += "xref:table"
        else tags += "xref:none"
      }
      anyTyped("Type", "ObjStm", "objstm")
      any("/FlateDecode", "flate")
      any("/LZWDecode", "lzw")
      any("/ASCIIHexDecode", "asciihex")
      any("/ASCII85Decode", "ascii85")
      any("/RunLengthDecode", "rle")
      any("/DCTDecode", "img:jpeg")
      any("/CCITTFaxDecode", "img:g4")
      any("/JBIG2Decode", "img:jbig2")
      any("/JPXDecode", "img:jpx")
      if (!tags.exists(_.startsWith("img:"))) anyTyped("Subtype", "Image", "img:marker")
      any("/WinAnsiEncoding", "font:winansi")
      any("/ToUnicode", "font:tounicode")
      any("/Identity-H", "font:cid")
      any("/Differences", "font:diffs")
      any("/FontFile2", "font:ttf")
      any("/FontFile3", "font:cff")
      any("/Rotate", "rotate")
      anyTyped("Subtype", "Form", "formxobj")
      anyTyped("Subtype", "Link", "links")
      any("/CreationDate", "infodict")
      if (dicts.count(_.is("Type", "Page")) > 1) tags += "multipage"
      tags.mkString(",")
    } catch { case _: Exception => "unreadable" }
  }

  /** All link-annotation target URIs in the document (§12.5.6.5, §12.6.4.7):
    * every `/URI (…)` action string across top-level AND in-ObjStm dicts —
    * both the inline-dict and indirect-object `/Annots` layouts real writers
    * emit. An incremental update's redefinition replaces the older object,
    * as in [[parse]]. Deterministic order: the object scan, then the ObjStm
    * containers by number; total (damaged/garbage → empty). The outlink
    * surface a crawl frontier feeds on. */
  def links(payload: Array[Byte]): Vector[String] = {
    if (payload == null || !isPdf(payload)) return Vector.empty
    try new Doc(payload).current.flatMap(o => dictsIn(o.value)).flatMap(_.str("URI")).map(textString)
    catch { case _: Exception => Vector.empty }
  }

  /** The document-information dictionary (§14.3.3): trailer `/Info` resolve
    * first (classic trailer or XRef-stream dict, through the xref chain like
    * [[parse]]), then a structural fallback for trailer-less files (any
    * current dict carrying `/Producer` or `/CreationDate`). Total —
    * damaged/garbage → None. */
  def docInfo(payload: Array[Byte]): Option[DocInfo] = {
    if (payload == null || !isPdf(payload)) return None
    try {
      // modern writers commonly house the /Info dict inside an /ObjStm
      // container — both the trailer resolve and the structural fallback
      // see the expanded objects too
      val doc = new Doc(payload)
      val byTrailer = doc.xref.trailer
        .flatMap(_.ref("Info"))
        .flatMap(n => doc.byNum.get(n).map(_.dict))
      val dict = byTrailer.orElse(doc.current.map(_.dict).find(d =>
        d.has("Producer") || d.has("CreationDate")))
      def text(d: PdfDict, key: String) = d.str(key).map(textString).getOrElse("")
      dict.map(d => DocInfo(text(d, "Title"), text(d, "Author"),
        text(d, "Producer"), text(d, "CreationDate")))
    } catch { case _: Exception => None }
  }

  /** One PDF, opened once for every reader ([[parseImpl]], [[dialect]],
    * [[links]], [[docInfo]]): the file as a Latin-1 string, its object scan
    * and, when first asked for, the /ObjStm expansion, the xref chain and the
    * object-number index. An encrypted file's key is worked out when a stream
    * is first read, and each stream is decrypted when first read ([[Crypt]]);
    * a plain file's streams decode straight out of the file string. */
  private final class Doc(bytes: Array[Byte], passwords: Seq[String] = Nil) {
    val s: String = new String(bytes, Latin1)
    val objs: Vector[PdfObj] = scanObjects(s)
    private lazy val crypt = Crypt.open(s, objs, passwords)
    private lazy val plains = mutable.HashMap.empty[Int, String]

    /** The first definition of each object number in the linear scan. */
    lazy val linearByNum: Map[Int, PdfObj] = firstByNum(objs)
    private lazy val objStms: Map[Int, Vector[PdfObj]] = expandObjStms(this)
    /** The objects inside /ObjStm containers, containers by number. */
    lazy val embedded: Vector[PdfObj] = objStms.toVector.sortBy(_._1).flatMap(_._2)
    /** The scanned objects in file order, then [[embedded]]. */
    lazy val all: Vector[PdfObj] = objs ++ embedded
    /** [[all]] without superseded definitions: each number's [[byNum]]
      * entry, once, in [[all]]'s order. */
    lazy val current: Vector[PdfObj] =
      all.filter(o => byNum.get(o.num).contains(o)).distinctBy(_.num)
    lazy val xref: XrefInfo = parseXrefChain(s)
    // resolution order (PDF semantics):
    //  1. linear scan, first definition wins — a spurious in-stream
    //     "N 0 obj" must not shadow the real object N;
    //  2. the xref chain (classic tables AND xref streams) OVERRIDES the
    //     scan — incremental updates redefine an object later in the file
    //     and the newest xref section is authoritative; type-2 entries
    //     resolve through their ObjStm container by index;
    //  3. /ObjStm-embedded objects fill in numbers nothing else defines.
    lazy val byNum: Map[Int, PdfObj] = {
      val xrefByNum = xref.offsets.flatMap { case (num, off) =>
        objAt(s, off).filter(_.num == num).map(num -> _)
      }
      val type2ByNum = xref.inStm.flatMap { case (num, (stm, idx)) =>
        objStms.get(stm).flatMap(_.lift(idx)).filter(_.num == num).map(num -> _)
      }
      firstByNum(embedded, linearByNum ++ xrefByNum ++ type2ByNum)
    }

    /** `o`'s stream decoded through its `/Filter` chain ("" when none). */
    def streamText(o: PdfObj, byNum: Map[Int, PdfObj] = byNum): String =
      if (!o.hasStream) ""
      else plain(o) match {
        case null => decodeStream(o, s, o.streamStart, o.streamEnd, byNum)
        case p => decodeStream(o, p, 0, p.length, byNum)
      }

    /** `o`'s stream bytes as stored, decrypted. */
    def streamBytes(o: PdfObj): Array[Byte] = plain(o) match {
      case null => java.util.Arrays.copyOfRange(bytes, o.streamStart, o.streamEnd)
      case p => p.getBytes(Latin1)
    }

    /** `o`'s decrypted stream, kept per stream; null when the file stores
      * it in the clear. */
    private def plain(o: PdfObj): String =
      if (crypt == null || !crypt.covers(o)) null
      else plains.getOrElseUpdate(o.streamStart, crypt.decrypt(bytes, o))
  }

  /** Standard-Security-Handler decryption (V≤2/R≤3 RC4, V=4/R=4 `/AESV2`
    * AES-128 and V=5/R=5|6 `/AESV3` AES-256 under the file key —
    * [[PdfCrypt]]) of one stream. RC4 runs over the scanned stream range,
    * which is length-preserving. AES needs the exact `IV ‖ blocks` extent
    * (the scanned range runs to `endstream` and so includes the writer's
    * EOL): a plausible in-dict `/Length`, else the range with trailing EOL
    * bytes trimmed to block alignment. A stream that does not decrypt reads
    * as stored. The encrypt dict's own stream and xref streams are never
    * encrypted (§7.6.1). */
  private final class Crypt(key: Array[Byte], aes: Boolean, aes3: Boolean, encRef: Int) {
    def covers(o: PdfObj): Boolean = o.num != encRef && !o.dict.is("Type", "XRef")

    def decrypt(file: Array[Byte], o: PdfObj): String = {
      val n = o.streamEnd - o.streamStart
      var m = n
      if (aes || aes3) {
        m = o.dict.int("Length")
          .filter(l => l >= 32 && l <= n && (l - 16) % 16 == 0)
          .getOrElse(n)
        while (m > 32 && (m - 16) % 16 != 0 && {
          val c = file(o.streamStart + m - 1); c == '\n' || c == '\r'
        }) m -= 1
      }
      val data = java.util.Arrays.copyOfRange(file, o.streamStart, o.streamStart + m)
      val dec: Array[Byte] =
        try {
          if (aes3) PdfCrypt.aesDecrypt(key, data).orNull // file key direct (V5)
          else if (aes) PdfCrypt.aesDecrypt(PdfCrypt.objKeyAes(key, o.num), data).orNull
          else PdfCrypt.rc4(PdfCrypt.objKey(key, o.num), data)
        } catch { case scala.util.control.NonFatal(_) => null }
      if (dec == null) new String(file, o.streamStart, n, Latin1) else new String(dec, Latin1)
    }
  }

  private object Crypt {
    /** The file key, worked out once per document. Null when the file is
      * not encrypted, names an out-of-scope handler (non-Standard filters,
      * unknown revisions) or no password opens it — a real user password
      * we don't have. Its streams then read as stored, and the parse
      * recovers nothing readable, which is the honest result.
      *
      * `passwords` is a caller-supplied try-list for documents protected by
      * a REAL (non-empty) password: each candidate is tried first as the
      * USER password (Algorithm 2 + /U check; R=6 Algorithm 11) and then as
      * the OWNER password (Algorithm 7 reverse recovers the padded user
      * password from /O; R=6 Algorithm 12 + /OE unwrap) — PyMuPDF's
      * `authenticate` contract, which the reference relies on
      * (`smart_extract.py:64-97`). The empty password is always tried
      * first, so the common open-web case costs no extra work. Candidates
      * are encoded Latin-1 for R≤4 (the spec's PDFDocEncoding agrees with
      * Latin-1 on the printable range) and UTF-8 for R≥5. */
    def open(s: String, objs: Vector[PdfObj], passwords: Seq[String]): Crypt = {
      if (!s.contains("/Encrypt")) return null
      try {
        // the newest trailer: the last classic one, else the last xref stream
        val trailer = { val t = s.lastIndexOf("trailer"); if (t < 0) None else trailerAt(s, t) }
          .orElse(objs.reverseIterator.map(_.dict).find(_.is("Type", "XRef")))
          .getOrElse(return null)
        val encRef = trailer.ref("Encrypt").getOrElse(return null)
        val d = objs.find(_.num == encRef).getOrElse(return null).dict
        if (!d.is("Filter", "Standard")) return null
        val v = d.int("V").getOrElse(1)
        val r = d.int("R").getOrElse(2)
        // the crypt filter streams use (§7.6.5): /StmF names a /CF entry
        val cfm = d.name("StmF").flatMap(f => d.dict("CF").flatMap(_.dict(f)))
          .flatMap(_.name("CFM"))
        val aes = v == 4 && r == 4 && cfm.contains("AESV2")
        // V=5: AES-256 under the file key directly — R=6 (PDF 2.0, iterated
        // Algorithm 2.B hash) and the deprecated R=5 precursor (plain SHA-256)
        val aes3 = v == 5 && (r == 5 || r == 6) && cfm.contains("AESV3")
        if (!aes && !aes3 && (v > 2 || r > 3)) return null // unknown handler
        val key: Array[Byte] =
          if (aes3) {
            // /U carries hash‖salts; /UE wraps the file key (Algorithm 11);
            // owner route: /O hash folds in /U, /OE wraps the same key
            val u48 = d.bytes("U").getOrElse(return null)
            val ue = d.bytes("UE").getOrElse(return null)
            val cands = "" +: passwords
            cands.iterator
              .map(pw => PdfCrypt.fileKey6(u48, ue, r5 = r == 5,
                pw.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
              .collectFirst { case Some(k) => k }
              .orElse {
                for {
                  o48 <- d.bytes("O")
                  oe <- d.bytes("OE")
                  k <- cands.iterator
                    .map(pw => PdfCrypt.fileKey6Owner(o48, oe, u48, r5 = r == 5,
                      pw.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
                    .collectFirst { case Some(k) => k }
                } yield k
              }
              .getOrElse(return null)
          } else {
            val p = d.int("P").getOrElse(-1)
            val o = d.bytes("O").getOrElse(return null)
            // /ID [<hex> <hex>] — first element feeds the key derivation
            val id0 = trailer.get("ID") match {
              case a: Vector[_] => a.headOption.collect { case s: String => s.getBytes(Latin1) }
                .getOrElse(return null)
              case _ => return null
            }
            // /U check: 16 significant bytes; a key passes when it
            // regenerates them — the same acceptance rule for every route
            val u16 = d.bytes("U").map(_.take(16))
            def uOk(k: Array[Byte]): Boolean =
              u16.forall(_.sameElements(PdfCrypt.uValue(k, id0).take(16)))
            val userRoutes = ("" +: passwords).iterator
              .map(pw => PdfCrypt.fileKey(pw.getBytes(Latin1), o, p, id0))
            // owner route: Algorithm 7 reverse gives the padded user
            // password, which feeds Algorithm 2 unchanged
            val ownerRoutes = passwords.iterator.map(pw =>
              PdfCrypt.fileKey(
                PdfCrypt.userPwFromOwner(pw.getBytes(Latin1), o), o, p, id0))
            (userRoutes ++ ownerRoutes).find(uOk).getOrElse(return null)
          }
        new Crypt(key, aes, aes3, encRef)
      } catch { case scala.util.control.NonFatal(_) => null }
    }
  }

  private def parseImpl(bytes: Array[Byte], run: Boolean,
                        native: Boolean = false,
                        passwords: Seq[String] = Nil): Parsed = {
    val doc = new Doc(bytes, passwords)
    import doc.{byNum, objs, s}
    val trailerDict = doc.xref.trailer

    // image sniff (feeds the router's scanned detection): a bare
    // `/Subtype /Image` marker counts, but a `/DCTDecode` image must
    // actually DECODE (javax.imageio — the same codec kernel the
    // standalone image path uses) to count as pixels; a corrupt JPEG
    // payload must not promote a text-free page to the high-confidence
    // scanned route
    val hasImage = objs.exists { o =>
      val d = o.dict
      def declared(key: String) = d.int(key).getOrElse(0)
      if (!d.is("Subtype", "Image")) false
      else filterNames(d, byNum) match {
        case f if f.contains("DCTDecode") =>
          o.hasStream && Multimodal.imageDims(doc.streamBytes(o)).isDefined
        case f if f.contains("CCITTFaxDecode") => o.hasStream && {
          // same contract as /DCTDecode: fax-compressed pixels must
          // actually DECODE (G4) before a text-free page may promote to
          // the scanned route — a corrupt payload is not pixels
          val dp = decodeParms(d, byNum)
          val cols = dp.flatMap(_.int("Columns")).orElse(d.int("Width")).getOrElse(1728)
          val rows = dp.flatMap(_.int("Rows")).orElse(d.int("Height")).getOrElse(0)
          rows > 0 && CcittG4.decode(doc.streamBytes(o), cols, rows).isDefined
        }
        case f if f.contains("JPXDecode") => o.hasStream && {
          // same contract: the JPEG2000 main header must validate (SOC/SIZ/
          // COD/QCD walk, JP2 box + ihdr cross-check — kernel/Jpx) and
          // agree with the declared geometry before the page may promote.
          // The EOL before `endstream` (§7.3.8.1: not part of the data —
          // but streamEnd here comes from the endstream scan) is a
          // transport byte, not a codestream byte: trim it or the raw
          // codestream's EOC-at-tail check fails
          val raw = doc.streamBytes(o)
          var e = raw.length
          while (e > 0 && (raw(e - 1) == '\n' || raw(e - 1) == '\r')) e -= 1
          Jpx.dims(java.util.Arrays.copyOfRange(raw, 0, e))
            .exists(i => i.w == declared("Width") && i.h == declared("Height"))
        }
        case f if f.contains("JBIG2Decode") => o.hasStream &&
          // same contract again: the embedded segment stream must decode
          // (MQ-coded generic region) and agree with the declared geometry
          Jbig2.decode(doc.streamBytes(o))
            .exists(i => i.w == declared("Width") && i.h == declared("Height"))
        case _ => true
      }
    }

    // page order: depth-first /Kids descent from the root Pages node
    // (intermediate /Type /Pages nodes recurse — real page trees nest);
    // root preferably via trailer /Root → Catalog → /Pages (the xref-era
    // authoritative path), else the first Pages node in file/ObjStm order;
    // fallback to all /Type /Page objects in file order. Cycle-safe via a
    // visited set, depth-capped defensively.
    def isPagesNode(o: PdfObj): Boolean = o.dict.is("Type", "Pages")
    def isPageLeaf(o: PdfObj): Boolean = o.dict.is("Type", "Page")
    val pagesNode = trailerDict
      .flatMap(_.ref("Root")).flatMap(byNum.get)
      .flatMap(_.dict.ref("Pages")).flatMap(byNum.get)
      .filter(isPagesNode)
      .orElse(doc.all.find(isPagesNode))
    // each leaf is paired with the nearest ancestor's /MediaBox (PDF
    // inheritance: a Page without its own box uses the closest Pages box)
    val kidPages: Vector[(PdfObj, Option[(Int, Int)])] = {
      val seen = mutable.Set.empty[Int]
      def descend(o: PdfObj, depth: Int,
                  inh: Option[(Int, Int)]): Vector[(PdfObj, Option[(Int, Int)])] =
        if (depth > 32 || !seen.add(o.num)) Vector.empty
        else if (isPageLeaf(o)) Vector((o, inh))
        else if (isPagesNode(o)) {
          val here = mediaBoxOf(o.dict).orElse(inh)
          o.dict.refs("Kids").flatMap(byNum.get).flatMap(descend(_, depth + 1, here))
        } else Vector.empty
      pagesNode.toVector.flatMap(descend(_, 0, None))
    }
    val rootBox = pagesNode.flatMap(p => mediaBoxOf(p.dict))
    val pageObjs: Vector[(PdfObj, Option[(Int, Int)])] =
      if (kidPages.nonEmpty) kidPages
      else objs.filter(isPageLeaf).map(o => (o, rootBox))

    val items = Vector.newBuilder[TextItem]
    var firstW = 612; var firstH = 792

    if (pageObjs.nonEmpty) {
      for (((p, inh), idx) <- pageObjs.zipWithIndex) {
        val (w, h) = mediaBoxOf(p.dict).orElse(inh).getOrElse((612, 792))
        // /Rotate: page-level, else inherited from the root Pages node
        // (PDF inheritance); only multiples of 90 are meaningful
        val rotRaw = p.dict.int("Rotate")
          .orElse(pagesNode.flatMap(_.dict.int("Rotate")))
          .getOrElse(0)
        val rot = if (rotRaw % 90 == 0) ((rotRaw % 360) + 360) % 360 else 0
        // reported page dims are the DISPLAY (rotated) view
        val (dw, dh) = if (rot == 90 || rot == 270) (h, w) else (w, h)
        if (idx == 0) { firstW = dw; firstH = dh }
        val fonts = fontInfos(doc, p.dict, pagesNode.map(_.dict))
        val forms = formInfos(doc, p.dict, pagesNode.map(_.dict))
        val contents = p.dict.refs("Contents").flatMap(byNum.get)
        if (native && run) {
          // native route: glyphs accumulate across the page's /Contents
          // streams (one logical stream per PDF §7.8.2), spans assemble once
          val chars = new mutable.ArrayBuffer[NChar](1024)
          val ctm0 = deviceMatrix(rot, w, h)
          for (c <- contents)
            interpretNative(doc.streamText(c), ctm0, fonts, forms, chars)
          buildSpans(chars, idx + 1, items)
        } else for (c <- contents) {
          val txt = doc.streamText(c)
          if (run) interpret(txt, w, h, rot, idx + 1, items, fonts, forms)
        }
      }
      Parsed(items.result(), firstW, firstH, hasImage, pageObjs.length)
    } else {
      // fallback: no page tree — treat every stream as page 1 content
      val (w, h) = objs.iterator.flatMap(o => mediaBoxOf(o.dict)).nextOption()
        .getOrElse((612, 792))
      var any = false
      for (o <- objs if o.hasStream) {
        any = true
        val txt = doc.streamText(o)
        if (run) interpret(txt, w, h, 0, 1, items)
      }
      if (!any) {
        // degenerate: raw "stream … endstream" spans with no object skeleton
        var from = 0
        var k = s.indexOf("stream", from)
        while (k >= 0) {
          var cs = k + "stream".length
          if (cs < s.length && s.charAt(cs) == '\r') cs += 1
          if (cs < s.length && s.charAt(cs) == '\n') cs += 1
          val e = s.indexOf("endstream", cs)
          if (run) interpret(s.substring(cs, if (e < 0) s.length else e), w, h, 0, 1, items)
          from = if (e < 0) s.length else e + "endstream".length
          k = s.indexOf("stream", from)
        }
      }
      Parsed(items.result(), w, h, hasImage, 1)
    }
  }

  /** `/ToUnicode` CMap application. Code width follows the CMap's source
    * codes: 1-byte (simple fonts) or 2-byte (Identity-H-style composite
    * fonts — every shown string consumes two bytes per glyph). Unmapped
    * codes pass through raw (tolerant), as does an odd trailing byte of a
    * 2-byte string. */
  private def applyCMap(raw: String, cmap: Map[Int, String], twoByte: Boolean): String = {
    val sb = new java.lang.StringBuilder(raw.length)
    var k = 0
    if (twoByte) {
      while (k + 1 < raw.length) {
        val code = ((raw.charAt(k) & 0xff) << 8) | (raw.charAt(k + 1) & 0xff)
        val mapped = cmap.getOrElse(code, null)
        if (mapped == null) { sb.append(raw.charAt(k)); sb.append(raw.charAt(k + 1)) }
        else sb.append(mapped)
        k += 2
      }
      if (k < raw.length) sb.append(raw.charAt(k))
    } else {
      while (k < raw.length) {
        val c = raw.charAt(k)
        val mapped = cmap.getOrElse(c.toInt, null)
        if (mapped == null) sb.append(c) else sb.append(mapped)
        k += 1
      }
    }
    sb.toString
  }

  /** PDF lexer (PDF 32000-1 §7.2–7.3) under both text interpreters,
    * [[interpret]] and [[interpretNative]], and under every object body:
    * [[value]] reads one typed object (dict, array, reference, …) with the
    * same token readers. Names and operators end at whitespace and at every
    * §7.2.2 delimiter, so `/Type/Page>>` reads the name `Page`. STREAMING: one
    * cursor pass over the content, no intermediate token vector and no boxed
    * numbers outside `TJ` arrays (interpretation is ~2/3 of parse CPU on the
    * bench corpus — this is the hot loop of the whole PDF route).
    *
    * [[scan]] hands each operator to the caller, then clears the operand
    * window. The window is the operand COUNT plus the kind, number and string
    * of the last six operands in fixed slots: no operator either interpreter
    * knows reads more than six (`Tm`, `cm`). Non-number operands read as 0.0
    * in number position. An array operand is held apart ([[array]], the last
    * one wins) and does not count toward an operator's arity.
    *
    * `%` outside a string starts a comment that runs to the end of the line
    * (§7.2.3). `<<`/`>>` only drop the operands. `BI … ID … EI` inline images
    * are skipped whole. Array nesting is capped at 32 (deeper brackets are
    * dropped and their elements flatten into the depth-32 array); only
    * top-level string/number elements of an array are retained — `TJ`
    * ignores everything else anyway. Skip-paths (stray brackets, `-`/`.`
    * non-numbers) are iterative: recursion is only per array-nesting level,
    * which is capped. */
  private[kernel] final class ContentLexer(content: String, private[this] var i: Int = 0) {
    import ContentLexer._
    private[this] val n = content.length

    private[this] var count = 0
    private[this] val kinds = new Array[Int](Window)
    private[this] val nums = new Array[Double](Window)
    private[this] val strs = new Array[String](Window)
    private[this] var arr: mutable.ArrayBuffer[AnyRef] = null

    /** Operands since the last operator, arrays not counted. */
    def arity: Int = count
    /** Kind of the `back`-th last operand (1 = last); [[Other]] if absent. */
    def kind(back: Int): Int =
      if (back > count || back > Window) Other else kinds((count - back) % Window)
    def num(back: Int): Double =
      if (back > count || back > Window) 0.0 else nums((count - back) % Window)
    def str(back: Int): String =
      if (back > count || back > Window) null else strs((count - back) % Window)
    /** The last array operand since the last operator, or null. */
    def array: mutable.ArrayBuffer[AnyRef] = arr

    private def push(kind: Int, num: Double, str: String): Unit = {
      val k = count % Window
      kinds(k) = kind; nums(k) = num; strs(k) = str
      count += 1
    }
    private def clear(): Unit = { count = 0; arr = null }

    /** Ends a name or an operator: whitespace or a §7.2.2 delimiter. */
    private def tokenEnd(c: Char): Boolean =
      c.isWhitespace || "()<>[]{}/%".indexOf(c) >= 0

    private def skipToken(): Unit = {
      i += 1
      while (i < n && !tokenEnd(content.charAt(i))) i += 1
    }

    private def skipComment(): Unit =
      while (i < n && content.charAt(i) != '\n' && content.charAt(i) != '\r') i += 1

    private def skipSpace(): Unit =
      while (i < n && (content.charAt(i).isWhitespace || content.charAt(i) == '%'))
        if (content.charAt(i) == '%') skipComment() else i += 1

    /** Literal string body, cursor just past its `(`: §7.3.4.2 escapes
      * (`\\ \( \) \n \r \t \b \f`, 1–3-digit octal, `\`EOL continuation) and
      * balanced unescaped parens. */
    def literal(): String = {
      val sb = new java.lang.StringBuilder
      var depth = 1
      while (i < n && depth > 0) {
        // bulk-copy the run up to the next special char (escape/paren)
        val spanStart = i
        while (i < n && { val ch = content.charAt(i)
                          ch != '\\' && ch != '(' && ch != ')' }) i += 1
        if (i > spanStart) sb.append(content, spanStart, i)
        if (i < n) {
          val ch = content.charAt(i)
          if (ch == '\\' && i + 1 < n) {
            content.charAt(i + 1) match {
              case 'n' => sb.append('\n'); i += 2
              case 'r' => sb.append('\r'); i += 2
              case 't' => sb.append('\t'); i += 2
              case 'b' => sb.append('\b'); i += 2
              case 'f' => sb.append('\f'); i += 2
              case '\n' => i += 2 // line continuation
              case '\r' => // \<CR> or \<CRLF> continuation
                i += 2
                if (i < n && content.charAt(i) == '\n') i += 1
              case d if d >= '0' && d <= '7' => // octal \d, \dd or \ddd
                var v = 0; var k = 0; i += 1
                while (k < 3 && i < n && content.charAt(i) >= '0' &&
                       content.charAt(i) <= '7') {
                  v = (v << 3) | (content.charAt(i) - '0'); i += 1; k += 1
                }
                sb.append((v & 0xff).toChar)
              case other => sb.append(other); i += 2
            }
          } else if (ch == '(') { depth += 1; sb.append(ch); i += 1 }
          else if (ch == ')') { depth -= 1; if (depth > 0) sb.append(ch); i += 1 }
          else { sb.append(ch); i += 1 } // trailing '\' at end of content
        }
      }
      sb.toString
    }

    private def hex(): String = { // caller consumed '<'
      val sb = new java.lang.StringBuilder
      var hi = -1
      var done = false
      while (i < n && !done) {
        val ch = content.charAt(i)
        if (ch == '>') { done = true; i += 1 }
        else {
          val d = Character.digit(ch, 16)
          if (d >= 0) {
            if (hi < 0) hi = d
            else { sb.append(((hi << 4) | d).toChar); hi = -1 }
          }
          i += 1 // non-hex chars (whitespace) skipped per spec
        }
      }
      if (hi >= 0) sb.append((hi << 4).toChar) // odd final digit: low nibble 0
      sb.toString
    }

    /** Parse a number starting at `i` (caller checked the first char). Returns
      * NaN and leaves the chars consumed when the span isn't a number — the
      * old tokenizer's NFE skip-path. Pure-integer spans (the overwhelming
      * majority: coordinates, font sizes, TJ kerns are written as ints) take
      * an exact digit-fold fast path; anything with a '.' falls back to
      * `Double.parseDouble` so decimal values stay bit-identical. */
    private def number(): Double = {
      val start = i
      var hasDot = content.charAt(i) == '.'
      i += 1
      while (i < n && (content.charAt(i).isDigit || content.charAt(i) == '.')) {
        if (content.charAt(i) == '.') hasDot = true
        i += 1
      }
      val c0 = content.charAt(start)
      val digits0 = if (c0 == '-' || c0 == '+') start + 1 else start
      if (!hasDot && i > digits0 && i - digits0 <= 15) {
        var v = 0L
        var k = digits0
        while (k < i) { v = v * 10 + (content.charAt(k) - '0'); k += 1 }
        if (c0 == '-') -v.toDouble else v.toDouble // ≤15 digits: exact in a double
      } else if (!hasDot && i == digits0) Double.NaN // bare sign: old NFE path
      else {
        try content.substring(start, i).toDouble
        catch { case _: NumberFormatException => Double.NaN }
      }
    }

    /** A name, cursor on its `/`; `#xx` reads as the byte xx (§7.3.5). */
    private def name(): String = {
      val from = i + 1
      skipToken()
      val raw = content.substring(from, i)
      if (raw.indexOf('#') < 0) raw
      else NameEscape.replaceAllIn(raw, m =>
        Regex.quoteReplacement(Integer.parseInt(m.group(1), 16).toChar.toString))
    }

    /** Array at textual nesting `depth` (top = 1): collects only the string
      * and number elements `TJ` can consume; nested arrays are parsed (for
      * the matching bracket) and discarded; names/ops/dict markers skipped.
      * Past the nesting cap the bracket is dropped, flattening deeper
      * elements into this array — the old tokenizer's exact behavior. */
    private def parseArray(depth: Int): mutable.ArrayBuffer[AnyRef] = {
      val elems = new mutable.ArrayBuffer[AnyRef](8)
      var done = false
      while (!done) {
        while (i < n && content.charAt(i).isWhitespace) i += 1
        if (i >= n) done = true
        else {
          val c = content.charAt(i)
          if (c == ']') { i += 1; done = true }
          else if (c == '%') skipComment()
          else if (c == '(') { i += 1; elems += literal() }
          else if (c == '<') {
            if (i + 1 < n && content.charAt(i + 1) == '<') i += 2 // dict marker: not a TJ element
            else { i += 1; elems += hex() }
          } else if (c == '>') {
            if (i + 1 < n && content.charAt(i + 1) == '>') i += 2
            else i += 1
          } else if (c == '/') { name(); () }
          else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
            val v = number()
            if (!v.isNaN) elems += java.lang.Double.valueOf(v)
          } else if (c == '[') {
            i += 1
            if (depth < MaxNesting) { parseArray(depth + 1); () }
            // past the cap: bracket dropped, elements flatten into this array
          } else skipToken() // operator tokens inside arrays: skipped
        }
      }
      elems
    }

    /** `BI <dict> ID <binary> EI`, cursor past `BI`: the binary payload can
      * contain ANY delimiter chars, so jump to the EI sentinel
      * (whitespace-preceded, delimiter/EOF-followed) instead of tokenizing
      * through it. No EI: the rest is image bytes. No ID: malformed — scan
      * on as if BI were an unknown operator. */
    private def skipInlineImage(): Unit = {
      val id = content.indexOf("ID", i)
      if (id >= 0) {
        var p = content.indexOf("EI", id + 2)
        var end = -1
        while (end < 0 && p >= 0) {
          val okBefore = p > 0 && content.charAt(p - 1).isWhitespace
          val okAfter = p + 2 >= n || content.charAt(p + 2).isWhitespace ||
            "([</".indexOf(content.charAt(p + 2)) >= 0
          if (okBefore && okAfter) end = p + 2
          else p = content.indexOf("EI", p + 1)
        }
        i = if (end < 0) n else end
      }
    }

    /** One object (§7.3) at the cursor, past whitespace and comments: a
      * [[PdfDict]], an array (`Vector[AnyRef]`), a [[PdfRef]] for `n g R`, a
      * [[PdfName]], a number (`java.lang.Double`), a literal or hex string
      * (its raw bytes as chars) or a `java.lang.Boolean`. Null for `null`,
      * any other keyword, a `>` (left for the enclosing dict) and the end
      * of the text. Dicts and arrays nest at most [[MaxNesting]] deep; a
      * deeper `<<` or `[` reads as null and its entries join the enclosing
      * container. */
    def value(): AnyRef = value(0)

    private def value(depth: Int): AnyRef = {
      skipSpace()
      if (i >= n) return null
      val c = content.charAt(i)
      if (c == '(') { i += 1; literal() }
      else if (c == '<') {
        if (i + 1 < n && content.charAt(i + 1) == '<') {
          i += 2
          if (depth < MaxNesting) dict(depth + 1) else null
        } else { i += 1; hex() }
      } else if (c == '[') {
        i += 1
        if (depth < MaxNesting) valueArray(depth + 1) else null
      } else if (c == '/') PdfName(name())
      else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
        val v = number()
        if (v.isNaN) null else refOr(v)
      } else if (c == '>') null
      else {
        val from = i
        skipToken()
        content.substring(from, i) match {
          case "true" => java.lang.Boolean.TRUE
          case "false" => java.lang.Boolean.FALSE
          case _ => null
        }
      }
    }

    /** A [[PdfRef]] when `g R` follows the object number `v`, else `v`. */
    private def refOr(v: Double): AnyRef = {
      val from = i
      while (i < n && content.charAt(i).isWhitespace) i += 1
      val gen = i
      while (i < n && content.charAt(i).isDigit) i += 1
      val hasGen = i > gen
      while (i < n && content.charAt(i).isWhitespace) i += 1
      if (hasGen && v >= 0 && v == v.toInt && i < n && content.charAt(i) == 'R' &&
          (i + 1 == n || tokenEnd(content.charAt(i + 1)))) {
        i += 1
        PdfRef(v.toInt)
      } else {
        i = from
        java.lang.Double.valueOf(v)
      }
    }

    private def dict(depth: Int): PdfDict = { // cursor past `<<`
      val keys = new mutable.ArrayBuffer[String](8)
      val vals = new mutable.ArrayBuffer[AnyRef](8)
      var done = false
      while (!done) {
        skipSpace()
        if (i >= n) done = true
        else if (content.charAt(i) == '>') {
          i += 1
          if (i < n && content.charAt(i) == '>') { i += 1; done = true }
        } else if (content.charAt(i) == '/') { keys += name(); vals += value(depth) }
        else value(depth) // not a key: read and drop
      }
      new PdfDict(keys.toArray, vals.toArray)
    }

    private def valueArray(depth: Int): Vector[AnyRef] = { // cursor past `[`
      val out = Vector.newBuilder[AnyRef]
      var done = false
      while (!done) {
        skipSpace()
        if (i >= n) done = true
        else if (content.charAt(i) == ']') { i += 1; done = true }
        else if (content.charAt(i) == '>') i += 1 // stray
        else out += value(depth)
      }
      out.result()
    }

    /** Lex the whole content, calling `onOp` with each operator; unknown
      * operators are the caller's to ignore. */
    def scan(onOp: String => Unit): Unit =
      while (i < n) {
        val c = content.charAt(i)
        if (c.isWhitespace) i += 1
        else if (c == '%') skipComment()
        else if (c == '(') { i += 1; push(Str, 0.0, literal()) }
        else if (c == '<') {
          if (i + 1 < n && content.charAt(i + 1) == '<') { i += 2; clear() }
          else { i += 1; push(Str, 0.0, hex()) }
        } else if (c == '>') {
          if (i + 1 < n && content.charAt(i + 1) == '>') { i += 2; clear() }
          else i += 1 // stray '>': skip
        } else if (c == '/') push(Name, 0.0, name())
        else if (c == '-' || c == '+' || c == '.' || c.isDigit) {
          val v = number()
          if (!v.isNaN) push(Num, v, null) // NFE span: skip, keep scanning
        } else if (c == '[') { i += 1; arr = parseArray(1) }
        else if (c == ']') i += 1 // stray ']': skip
        else {
          val from = i
          skipToken()
          val op = content.substring(from, i)
          if (op == "BI") skipInlineImage() else onOp(op)
          clear()
        }
      }
  }

  private[kernel] object ContentLexer {
    /** Operand kinds. */
    final val Num = 0; final val Str = 1; final val Name = 2; final val Other = 3
    private final val Window = 6
    private final val MaxNesting = 32
    private val NameEscape = "#([0-9A-Fa-f]{2})".r
  }

  /** Approximate-geometry text interpreter (PDF 32000-1 §9.4 subset), the
    * route production extraction uses: one [[TextItem]] per shown string
    * with `CharWidthFactor` advance widths. The graphics state and
    * `Tc`/`Tw`/`Tz`/`Ts` are ignored, and `Tm` uses only e and f, the
    * translation column.
    *
    * `fonts` maps font resource names (Tf's first operand) to their declared
    * encoding/CMap; a `/ToUnicode` CMap takes precedence (PyMuPDF order),
    * else `/WinAnsiEncoding` strings are re-read as windows-1252. */
  private def interpret(content: String, pageW: Int, pageH: Int, rot: Int,
                        pageNum: Int,
                        out: mutable.Builder[TextItem, Vector[TextItem]],
                        fonts: Map[String, FontInfo] = Map.empty,
                        forms: Map[String, FormX] = Map.empty): Unit = {
    import ContentLexer.{Name, Str}
    val lx = new ContentLexer(content)
    import lx.{arity, array, kind, num, str}

    // interpreter state
    var fontSize = 12.0
    var font = DefaultFont
    var leading = 0.0
    var tmx = 0.0; var tmy = 0.0   // current text position (PDF coords)
    var lmx = 0.0; var lmy = 0.0   // line-start position

    def emit(raw: String): Unit = {
      val decoded =
        if (font.cmap.nonEmpty) applyCMap(raw, font.cmap, font.twoByte)
        else if (font.diffs.nonEmpty) diffText(raw, font.diffs, font.winAnsi)
        else if (font.winAnsi) winAnsiText(raw)
        else raw
      val text = Py.strip(decoded)
      val width = decoded.length * CharWidthFactor * fontSize
      if (text.nonEmpty) {
        // user space -> display top-left coords honoring /Rotate (the
        // PyMuPDF-style rotated page view; pageW/pageH are USER dims), then
        // the glyph-box drop by fontSize in display space; int truncation +
        // conf 100 mirror smart_extract.py:85-93
        val xd = rot match {
          case 90 => tmy
          case 180 => pageW - tmx
          case 270 => pageH - tmy
          case _ => tmx
        }
        val yd = (rot match {
          case 90 => tmx
          case 180 => tmy
          case 270 => pageW - tmx
          case _ => pageH - tmy
        }) - fontSize
        out += TextItem(text, pageNum, xd.toInt, yd.toInt,
          width.toInt, fontSize.toInt, 100)
      }
      tmx += width
    }

    def handleOp(op: String): Unit = op match {
      case "BT" => tmx = 0; tmy = 0; lmx = 0; lmy = 0
      case "Tf" =>
        if (arity >= 1) fontSize = num(1)
        if (arity >= 2 && kind(2) == Name)
          font = fonts.getOrElse(str(2), DefaultFont)
      case "Td" | "TD" =>
        if (arity >= 2) {
          lmx += num(2); lmy += num(1); tmx = lmx; tmy = lmy
          if (op == "TD") leading = -num(1)
        }
      case "Tm" =>
        if (arity >= 6) { tmx = num(2); tmy = num(1); lmx = tmx; lmy = tmy }
      case "T*" => lmy -= leading; tmx = lmx; tmy = lmy
      case "TL" => if (arity >= 1) leading = num(1)
      case "Tj" => if (kind(1) == Str) emit(str(1))
      case "'" | "\"" =>
        // move-to-next-line-and-show; `"` additionally carries aw/ac
        // word/char spacing operands, which this geometry model ignores
        lmy -= leading; tmx = lmx; tmy = lmy
        if (kind(1) == Str) emit(str(1))
      case "Do" =>
        // execute a Form XObject's content stream in place. Fonts: the
        // form's own resources win, else the invoking context's
        // (PDF §8.10.1). Nested forms come only from the form's OWN
        // resources — inheriting the caller's form map would let a form
        // invoke itself through the caller's name and loop
        if (kind(1) == Name) forms.get(str(1)) match {
          case Some(f) =>
            interpret(f.content, pageW, pageH, rot, pageNum, out,
              if (f.fonts.nonEmpty) f.fonts else fonts,
              if (f.forms.nonEmpty) f.forms else Map.empty)
          case None =>
        }
      case "TJ" =>
        if (array != null) {
          val it = array.iterator
          while (it.hasNext) it.next() match {
            case s: String => emit(s)
            case d: java.lang.Double =>
              tmx -= d.doubleValue / 1000.0 * fontSize // standard kerning advance
            case _ =>
          }
        }
      case _ => // ET and unknown operators: the lexer drops their operands
    }

    lx.scan(handleOp)
  }

  // ---------- native-route structured text (the PyMuPDF twin) ----------
  //
  // The reference's native extraction (`smart_extract.py:64-97`) reads
  // PyMuPDF `get_text("dict")` spans: per-span stripped text + int-truncated
  // top-origin bboxes. This section reproduces that contract from first
  // principles — full CTM/Tm tracking, real advance widths from the font's
  // /W · /Widths arrays, MuPDF-style line/span assembly with synthesized
  // spaces — and is validated against the reference's own committed
  // artifacts: the `single_page_debug.log` funnel (256 items → 149 in box →
  // 19 rows → 10 merged) and byte-identical cells on all 2 136 rows of
  // `NEWARK_SMART_20250902_120119.xlsx` across the 241 real PDFs
  // (RealPdfSpec is the gate; its goldens are `data/realpdf_*`).

  /** One shown glyph in device space: origin, advance endpoint, effective
    * size (matrix expansion), the Tf resource name (MuPDF span identity), and
    * the font's vertical metrics. */
  private final case class NChar(uni: String, ox: Double, oy: Double,
                                 ex: Double, ey: Double, size: Double,
                                 fontId: String, asc: Double, desc: Double)

  /** MuPDF structured-text thresholds (stext-device.c), in units of the
    * current span's size: a forward gap in [SpaceDist, SpaceMaxDist]
    * synthesizes ONE space; a larger gap, backward motion beyond SpaceDist,
    * or a baseline offset beyond BaseMaxDist starts a new line. */
  private val SpaceDist = 0.15
  private val SpaceMaxDist = 0.8
  private val BaseMaxDist = 0.8

  /** Row-major 2×3 affine product `m · n` (apply m first, then n):
    * x' = a·x + c·y + e, y' = b·x + d·y + f. */
  private def matMul(m: Array[Double], n: Array[Double]): Array[Double] =
    Array(
      m(0) * n(0) + m(1) * n(2),
      m(0) * n(1) + m(1) * n(3),
      m(2) * n(0) + m(3) * n(2),
      m(2) * n(1) + m(3) * n(3),
      m(4) * n(0) + m(5) * n(2) + n(4),
      m(4) * n(1) + m(5) * n(3) + n(5))

  /** PDF user space (y-up) → display device space (y-down, top-left origin,
    * honoring /Rotate) — the same mapping [[interpret]] applies pointwise,
    * expressed as the page's base CTM. */
  private def deviceMatrix(rot: Int, w: Int, h: Int): Array[Double] = rot match {
    case 90  => Array(0, 1, 1, 0, 0, 0)
    case 180 => Array(-1, 0, 0, 1, w.toDouble, 0)
    case 270 => Array(0, -1, -1, 0, h.toDouble, w.toDouble)
    case _   => Array(1, 0, 0, -1, 0, h.toDouble)
  }

  /** Full-state content interpreter for the native route: graphics state
    * (q/Q/cm), text state (Tm, Td, TD, `T*`, TL, Tc, Tw, Tz, Ts), per-code
    * advances, Form XObject /Matrix composition. Emits one [[NChar]] per shown glyph;
    * [[buildSpans]] assembles them. Unknown operators drop their operands
    * (tolerant, like [[interpret]]). */
  private def interpretNative(content: String,
                              ctm0: Array[Double],
                              fonts: Map[String, FontInfo],
                              forms: Map[String, FormX],
                              out: mutable.ArrayBuffer[NChar]): Unit = {
    import ContentLexer.{Name, Str}
    val lx = new ContentLexer(content)
    import lx.{arity, array, kind, num, str}

    var ctm = ctm0
    val gsStack = new mutable.ArrayBuffer[Array[Double]](8)
    var tm: Array[Double] = Array(1, 0, 0, 1, 0, 0)
    var tlm: Array[Double] = Array(1, 0, 0, 1, 0, 0)
    var font: FontInfo = null
    var fontId: String = null
    var fontSize = 0.0
    var tc = 0.0; var tw = 0.0; var ts = 0.0
    var th = 1.0; var tl = 0.0

    def decode(code: Int): String =
      if (font.cmap.nonEmpty) font.cmap.getOrElse(code, code.toChar.toString)
      else if (font.diffs.nonEmpty) font.diffs.get(code).map(_.toString).getOrElse(
        if (font.winAnsi && code >= 0x80 && code <= 0x9f) Cp1252Hi(code - 0x80).toString
        else code.toChar.toString)
      else if (font.winAnsi && code >= 0x80 && code <= 0x9f) Cp1252Hi(code - 0x80).toString
      else code.toChar.toString

    def show(raw: String): Unit = {
      if (font == null) return
      var k = 0
      val step = if (font.twoByte) 2 else 1
      val lim = if (font.twoByte) raw.length - 1 else raw.length
      while (k < lim) {
        val code =
          if (font.twoByte) ((raw.charAt(k) & 0xff) << 8) | (raw.charAt(k + 1) & 0xff)
          else raw.charAt(k) & 0xff
        val uni = decode(code)
        val mm = matMul(tm, ctm)
        val trm = matMul(Array(fontSize * th, 0, 0, fontSize, 0, ts), mm)
        val ox = trm(4); val oy = trm(5)
        val size = math.hypot(trm(0), trm(1))
        val w0 = font.widths.getOrElse(code, font.dw) / 1000.0
        val tx = (w0 * fontSize + tc +
          (if (code == 32 && !font.twoByte) tw else 0.0)) * th
        val ex = ox + tx * mm(0)
        val ey = oy + tx * mm(1)
        out += NChar(uni, ox, oy, ex, ey, size, fontId, font.asc, font.desc)
        tm = matMul(Array(1, 0, 0, 1, tx, 0), tm)
        k += step
      }
    }

    def handleOp(op: String): Unit = op match {
      case "q" => gsStack += ctm
      case "Q" => if (gsStack.nonEmpty) ctm = gsStack.remove(gsStack.length - 1)
      case "cm" if arity >= 6 =>
        ctm = matMul(Array(num(6), num(5), num(4), num(3), num(2), num(1)), ctm)
      case "BT" =>
        tm = Array(1, 0, 0, 1, 0, 0); tlm = tm
      case "Tf" =>
        if (arity >= 1) fontSize = num(1)
        if (arity >= 2 && kind(2) == Name) {
          fontId = str(2)
          font = fonts.getOrElse(fontId, null)
        }
      case "Td" | "TD" if arity >= 2 =>
        if (op == "TD") tl = -num(1)
        tlm = matMul(Array(1, 0, 0, 1, num(2), num(1)), tlm)
        tm = tlm
      case "Tm" if arity >= 6 =>
        tm = Array(num(6), num(5), num(4), num(3), num(2), num(1)); tlm = tm
      case "T*" =>
        tlm = matMul(Array(1, 0, 0, 1, 0, -tl), tlm); tm = tlm
      case "TL" if arity >= 1 => tl = num(1)
      case "Tc" if arity >= 1 => tc = num(1)
      case "Tw" if arity >= 1 => tw = num(1)
      case "Tz" if arity >= 1 => th = num(1) / 100.0
      case "Ts" if arity >= 1 => ts = num(1)
      case "Tj" => if (kind(1) == Str) show(str(1))
      case "'" | "\"" =>
        // `"` carries aw/ac operands; like the validated prototype the
        // geometry keeps the PRE-op Tw/Tc (no real writer in this corpus
        // emits `"`)
        tlm = matMul(Array(1, 0, 0, 1, 0, -tl), tlm); tm = tlm
        if (kind(1) == Str) show(str(1))
      case "TJ" =>
        if (array != null) {
          val it = array.iterator
          while (it.hasNext) it.next() match {
            case sdoc: String => show(sdoc)
            case d: java.lang.Double =>
              val tx = -d.doubleValue / 1000.0 * fontSize * th
              tm = matMul(Array(1, 0, 0, 1, tx, 0), tm)
            case _ =>
          }
        }
      case "Do" =>
        if (kind(1) == Name) forms.get(str(1)) match {
          case Some(f) =>
            interpretNative(f.content, matMul(f.matrix, ctm),
              if (f.fonts.nonEmpty) f.fonts else fonts,
              f.forms, out)
          case None =>
        }
      case _ =>
    }

    lx.scan(handleOp)
  }

  /** MuPDF-style span assembly over the glyph stream: same span while the
    * style (Tf resource name + effective size) holds and the pen advances
    * within SpaceDist; gaps in [SpaceDist, SpaceMaxDist] synthesize one
    * space; larger gaps / backward motion / baseline change start a new
    * span. Emits the reference's TextItem contract: stripped text,
    * `x=int(x0)`, `y=int(baseline − ascent·size)`, `width=int(x1−x0)`,
    * `height=int((ascent+descent)·size)`, confidence 100
    * (`smart_extract.py:85-93`). */
  private def buildSpans(chars: collection.Seq[NChar], page: Int,
                         out: mutable.Builder[TextItem, Vector[TextItem]]): Unit = {
    var has = false
    val text = new java.lang.StringBuilder
    var x0 = 0.0; var base = 0.0; var x1 = 0.0; var size = 0.0
    var fid: String = null; var asc = 0.8; var desc = 0.2
    var penX = 0.0; var penY = 0.0

    def flush(): Unit = if (has) {
      val t = Py.strip(text.toString)
      if (t.nonEmpty) {
        val y0 = base - asc * size
        val y1 = base + desc * size
        out += TextItem(t, page, x0.toInt, y0.toInt,
          (x1 - x0).toInt, (y1 - y0).toInt, 100)
      }
    }

    for (ch <- chars) {
      var newLine = false
      var addSpace = false
      if (!has) newLine = true
      else {
        val dist = if (size != 0) (ch.ox - penX) / size else 0.0
        val baseOff = if (size != 0) (ch.oy - penY) / size else 0.0
        if (math.abs(baseOff) > BaseMaxDist) newLine = true
        else if (dist < -SpaceDist) newLine = true
        else if (dist >= SpaceDist && dist <= SpaceMaxDist) addSpace = true
        else if (dist > SpaceMaxDist) newLine = true
      }
      val styleChange = has &&
        (ch.fontId != fid || math.abs(ch.size - size) > 0.01)
      if (newLine || styleChange) {
        flush()
        has = true
        text.setLength(0)
        x0 = ch.ox; base = ch.oy; x1 = ch.ex; size = ch.size
        fid = ch.fontId; asc = ch.asc; desc = ch.desc
        if (addSpace && styleChange && !newLine) text.append(' ')
      } else if (addSpace &&
                 (text.length == 0 || text.charAt(text.length - 1) != ' ')) {
        text.append(' ')
      }
      text.append(ch.uni)
      if (ch.ex > x1) x1 = ch.ex
      penX = ch.ex; penY = ch.ey
    }
    flush()
  }
}
