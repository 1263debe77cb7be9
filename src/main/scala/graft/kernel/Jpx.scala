package graft.kernel

/** JPEG 2000 (ISO/IEC 15444-1) header validation for `/JPXDecode` image
  * XObjects — the remaining raster compression a real crawl's scanned PDFs
  * carry after DCT/G4/JBIG2 (the reference ingests such files through
  * PyMuPDF's rasterizer, `smart_extract.py:64-97`; here the router's image
  * sniff must validate the payload before a text-free page may promote to
  * the high-confidence scanned route).
  *
  * Scope — HEADER-level, the same contract as `/DCTDecode` (which gates on
  * `javax.imageio` header decode, not full pixel reconstruction): both legal
  * PDF payload shapes are parsed —
  *  - the raw codestream (15444-1 Annex A): SOC, a fully-validated SIZ
  *    (length arithmetic, grid/offset sanity, per-component fields), then
  *    the main-header marker walk (every segment length checked against the
  *    buffer) requiring COD and QCD before the first SOT, whose Psot must
  *    fit the remaining bytes, and the EOC terminator at the stream tail
  *    (so mid-tile truncation is always detected);
  *  - the JP2 box container (Annex I): signature + ftyp brand check, box
  *    walk (64-bit XLBox and to-EOF lengths handled), the mandatory
  *    `jp2h`/`ihdr` header before the top-level `jp2c`, and the `ihdr`
  *    geometry cross-checked against that codestream's SIZ — a mismatch is
  *    a malformed file, not pixels.
  * The entropy-coded tile body is NOT arithmetic-decoded (unlike [[CcittG4]]
  * and [[Jbig2]], where the full codec is small); EBCOT is not, and the
  * header walk already rejects the corrupt/truncated payloads the routing
  * contract cares about.
  *
  * Validation is total: any malformed payload (bad signature, inconsistent
  * lengths, truncation, absurd dimensions, missing COD/QCD, ihdr/SIZ
  * disagreement) returns None, never throws — a corrupt stream must not
  * kill an executor, it must route the document into the failure taxonomy.
  */
object Jpx {

  /** Header-level image info: canvas minus offset (Xsiz-XOsiz etc.) and the
    * declared component count. */
  final case class Image(w: Int, h: Int, ncomp: Int)

  /** A writer-side payload for [[PdfLite.writeDoc]]'s image XObject slot
    * (mirrors `PdfLite.JpegImage`): `bytes` is a raw codestream or a JP2
    * container, `w`/`h` the geometry the PDF dict declares. */
  final case class Payload(bytes: Array[Byte], w: Int, h: Int)

  private val MaxDim = 1 << 24 // 16M px per axis: anything larger is garbage

  // ---------- read helpers (all bounds-checked, None on truncation) ----------

  private def u8(b: Array[Byte], p: Int): Option[Int] =
    if (p >= 0 && p < b.length) Some(b(p) & 0xFF) else None
  private def u16(b: Array[Byte], p: Int): Option[Int] =
    if (p >= 0 && p + 1 < b.length) Some(((b(p) & 0xFF) << 8) | (b(p + 1) & 0xFF)) else None
  private def u32(b: Array[Byte], p: Int): Option[Long] =
    if (p >= 0 && p + 3 < b.length)
      Some(((b(p) & 0xFFL) << 24) | ((b(p + 1) & 0xFFL) << 16) |
           ((b(p + 2) & 0xFFL) << 8) | (b(p + 3) & 0xFFL))
    else None

  // ---------- raw codestream (Annex A) ----------

  /** Validate a raw codestream's main header from `off` to `end`
    * (exclusive); returns the SIZ-derived image. */
  private def codestream(b: Array[Byte], off: Int, end: Int): Option[Image] = {
    if (end - off < 4 || u16(b, off) != Some(0xFF4F)) return None // SOC
    if (u16(b, end - 2) != Some(0xFFD9)) return None // must END with EOC (A.4.4)
    if (u16(b, off + 2) != Some(0xFF51)) return None              // SIZ first, A.5.1
    val lsiz = u16(b, off + 4).getOrElse(return None)
    // Lsiz = 38 + 3·Csiz, Csiz in 1..16384 (A.5.1)
    if (lsiz < 41 || off + 4 + lsiz > end) return None
    val xsiz  = u32(b, off + 8).getOrElse(return None)
    val ysiz  = u32(b, off + 12).getOrElse(return None)
    val xosiz = u32(b, off + 16).getOrElse(return None)
    val yosiz = u32(b, off + 20).getOrElse(return None)
    val xtsiz = u32(b, off + 24).getOrElse(return None)
    val ytsiz = u32(b, off + 28).getOrElse(return None)
    val csiz  = u16(b, off + 40).getOrElse(return None)
    if (csiz < 1 || csiz > 16384 || lsiz != 38 + 3 * csiz) return None
    val w = xsiz - xosiz
    val h = ysiz - yosiz
    if (w <= 0 || h <= 0 || w > MaxDim || h > MaxDim) return None
    if (xtsiz <= 0 || ytsiz <= 0) return None // tile grid must tile the canvas
    // per-component Ssiz: bit depth field must be 1..38 bits (A.5.1)
    var c = 0
    while (c < csiz) {
      val ssiz = u8(b, off + 42 + 3 * c).getOrElse(return None)
      if ((ssiz & 0x7F) + 1 < 1 || (ssiz & 0x7F) + 1 > 38) return None
      c += 1
    }
    // main-header marker walk: every segment's length must fit; COD and QCD
    // are mandatory (A.4) before the first tile-part
    var p = off + 4 + lsiz
    var sawCod = false
    var sawQcd = false
    while (true) {
      // the walk never reads past the codestream: inside a JP2 container the
      // bytes after `end` belong to other boxes
      if (p + 4 > end) return None
      val mk = u16(b, p).getOrElse(return None)
      if ((mk & 0xFF00) != 0xFF00) return None // lost marker alignment
      if (mk == 0xFF90) {                      // SOT — main header ends
        if (!sawCod || !sawQcd || p + 12 > end) return None
        val lsot = u16(b, p + 2).getOrElse(return None)
        if (lsot != 10) return None
        val psot = u32(b, p + 4 + 2).getOrElse(return None)
        // Psot = 0 means "to EOC" (last tile-part only); otherwise the
        // declared tile-part must physically fit
        if (psot != 0 && (psot < 14 || p + psot > end)) return None
        return Some(Image(w.toInt, h.toInt, csiz))
      }
      if (mk == 0xFF93 || mk == 0xFFD9) return None // SOD/EOC before any SOT
      val l = u16(b, p + 2).getOrElse(return None)
      if (l < 2 || p + 2 + l > end) return None
      if (mk == 0xFF52) sawCod = true
      if (mk == 0xFF5C) sawQcd = true
      p += 2 + l
    }
    None // unreachable
  }

  // ---------- JP2 box container (Annex I) ----------

  private[kernel] val JP2Sig = Array[Byte](0, 0, 0, 12, 0x6A, 0x50, 0x20, 0x20,
    0x0D, 0x0A, 0x87.toByte, 0x0A)

  /** The box at `q`, which must end by `hi` (I.4): its TBox and content
    * extent `[start, end)`; None if its length is malformed. LBox 1 → a
    * 64-bit XLBox follows; 0 → the box runs to `hi`. */
  private def box(b: Array[Byte], q: Int, hi: Int): Option[(Long, Int, Int)] = {
    val lbox = u32(b, q).getOrElse(return None)
    val tbox = u32(b, q + 4).getOrElse(return None)
    val (start, len) =
      if (lbox == 1) {
        val hiW = u32(b, q + 8).getOrElse(return None)
        val loW = u32(b, q + 12).getOrElse(return None)
        (q + 16, (hiW << 32 | loW) - 16)
      } else if (lbox == 0) (q + 8, (hi - q - 8).toLong)
      else (q + 8, lbox - 8)
    if (len < 0 || start + len > hi) None else Some((tbox, start, (start + len).toInt))
  }

  private val Ftyp = 0x66747970L // 'ftyp'
  private val Jp2h = 0x6A703268L // 'jp2h'
  private val Ihdr = 0x69686472L // 'ihdr'
  private val Jp2c = 0x6A703263L // 'jp2c'

  /** Validate a JP2 container: signature, `ftyp` brand, then a top-level box
    * walk in which the `jp2h` header superbox and its `ihdr` are mandatory
    * before the `jp2c` codestream (I.5.3), and the ihdr geometry must AGREE
    * with the codestream's SIZ. A malformed box inside jp2h, or a codestream
    * nested there, fails the whole container. */
  private def jp2(b: Array[Byte]): Option[Image] = {
    if (b.length < 12 || !b.take(12).sameElements(JP2Sig)) return None
    var ihdr: Option[(Long, Long, Int)] = None // (h, w, nc) — ihdr order
    var sawFtyp = false
    // jp2h's interior: false if malformed
    def header(lo: Int, hi: Int): Boolean = {
      var q = lo
      while (q < hi) {
        val (tbox, start, end) = box(b, q, hi).getOrElse(return false)
        tbox match {
          case Ihdr => // I.5.3.1: HEIGHT then WIDTH
            if (end - start != 14) return false
            val ih = u32(b, start).getOrElse(return false)
            val iw = u32(b, start + 4).getOrElse(return false)
            val nc = u16(b, start + 8).getOrElse(return false)
            ihdr = Some((ih, iw, nc))
          case Jp2c => return false // the codestream is a top-level box only
          case _ => // colr/res/...: opaque, skip
        }
        q = end
      }
      true
    }
    var q = 12
    while (q < b.length) {
      val (tbox, start, end) = box(b, q, b.length).getOrElse(return None)
      tbox match {
        case Ftyp => // brand must be jp2-family (I.7.1)
          val brand = u32(b, start).getOrElse(return None)
          if (brand != 0x6A703220 && brand != 0x6A707820) return None // 'jp2 '/'jpx '
          sawFtyp = true
        case Jp2h =>
          if (!header(start, end)) return None
        case Jp2c =>
          if (!sawFtyp) return None
          val (ih, iw, nc) = ihdr.getOrElse(return None)
          return codestream(b, start, end).filter { img =>
            ih == img.h && iw == img.w && nc == img.ncomp
          }
        case _ => // uuid/xml/...: opaque, skip
      }
      q = end
    }
    None
  }

  /** Header-validate a `/JPXDecode` payload in either legal shape.
    * Total: None on anything malformed. */
  def dims(bytes: Array[Byte]): Option[Image] =
    try {
      if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0x4F)
        codestream(bytes, 0, bytes.length)
      else jp2(bytes)
    } catch { case _: Throwable => None }

  // ---------- writer twin (fixture/corpus side) ----------

  private def w16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >>> 8) & 0xFF); o.write(v & 0xFF)
  }
  private def w32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
    o.write(((v >>> 24) & 0xFF).toInt); o.write(((v >>> 16) & 0xFF).toInt)
    o.write(((v >>> 8) & 0xFF).toInt); o.write((v & 0xFF).toInt)
  }

  /** Emit a minimal raw codestream: SOC, SIZ (single tile = canvas), COD
    * (LRCP, 1 layer, 5×3 reversible, 1 decomposition), QCD (reversible
    * no-quantization exponents), one SOT/SOD tile-part with a deterministic
    * opaque body, EOC. The main header is fully spec-shaped (every length
    * field true); the tile body is entropy-opaque, matching the
    * header-level gate contract documented on [[dims]]. */
  def encode(w: Int, h: Int, ncomp: Int): Array[Byte] = {
    require(w > 0 && h > 0 && ncomp >= 1 && ncomp <= 16384)
    val o = new java.io.ByteArrayOutputStream(256)
    w16(o, 0xFF4F)                     // SOC
    w16(o, 0xFF51); w16(o, 38 + 3 * ncomp) // SIZ, Lsiz
    w16(o, 0)                          // Rsiz: baseline profile
    w32(o, w); w32(o, h)               // Xsiz, Ysiz
    w32(o, 0); w32(o, 0)               // XOsiz, YOsiz
    w32(o, w); w32(o, h)               // XTsiz, YTsiz (one tile)
    w32(o, 0); w32(o, 0)               // XTOsiz, YTOsiz
    w16(o, ncomp)                      // Csiz
    for (_ <- 0 until ncomp) { o.write(7); o.write(1); o.write(1) } // 8-bit unsigned, 1:1
    w16(o, 0xFF52); w16(o, 12)         // COD, Lcod
    o.write(0)                         // Scod: default precincts, no SOP/EPH
    o.write(0); w16(o, 1); o.write(0)  // SGcod: LRCP, 1 layer, no MCT
    o.write(1)                         // 1 decomposition level
    o.write(4); o.write(4)             // 64×64 code-blocks
    o.write(0)                         // code-block style
    o.write(1)                         // 5×3 reversible transform
    // QCD: reversible/no-quantization (Sqcd style 0) → one exponent byte per
    // subband; 1 decomp level → 4 subbands (LL + HL/LH/HH)
    w16(o, 0xFF5C); w16(o, 3 + 4)
    o.write(2 << 5)                    // Sqcd: 2 guard bits, no quantization
    for (e <- Seq(8, 9, 9, 10)) o.write(e << 3)
    // one tile-part: body bytes are a deterministic function of geometry
    val body = Array.tabulate(16)(i => ((i * 37 + w * 7 + h * 3 + ncomp) & 0xFF).toByte)
    w16(o, 0xFF90); w16(o, 10)         // SOT, Lsot
    w16(o, 0)                          // Isot: tile 0
    w32(o, 12 + 2 + body.length)       // Psot: SOT seg + SOD + body
    o.write(0); o.write(1)             // TPsot 0, TNsot 1
    w16(o, 0xFF93)                     // SOD
    o.write(body)
    w16(o, 0xFFD9)                     // EOC
    o.toByteArray
  }

  /** Wrap [[encode]] in the JP2 box container: signature, ftyp (brand
    * 'jp2 '), jp2h (ihdr + colr), jp2c. */
  def encodeJp2(w: Int, h: Int, ncomp: Int): Array[Byte] = {
    val cs = encode(w, h, ncomp)
    val o = new java.io.ByteArrayOutputStream(cs.length + 96)
    o.write(JP2Sig, 0, 12)
    w32(o, 20); w32(o, 0x66747970)     // ftyp
    w32(o, 0x6A703220); w32(o, 0)      // brand 'jp2 ', minor 0
    w32(o, 0x6A703220)                 // compat 'jp2 '
    w32(o, 8 + 22 + 15); w32(o, 0x6A703268) // jp2h superbox
    w32(o, 22); w32(o, 0x69686472)     // ihdr
    w32(o, h); w32(o, w)               // HEIGHT first (I.5.3.1)
    w16(o, ncomp)
    o.write(7)                         // BPC: 8-bit unsigned
    o.write(7)                         // C: wavelet compression
    o.write(0); o.write(0)             // UnkC, IPR
    w32(o, 15); w32(o, 0x636F6C72)     // colr
    o.write(1); o.write(0); o.write(0) // METH enumerated, PREC, APPROX
    w32(o, if (ncomp >= 3) 16 else 17) // sRGB / greyscale
    w32(o, 8 + cs.length); w32(o, 0x6A703263) // jp2c
    o.write(cs, 0, cs.length)
    o.toByteArray
  }
}
