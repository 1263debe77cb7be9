package graft.kernel

/** CCITT Group 4 (ITU-T T.6, pure 2-D MMR) codec for `/CCITTFaxDecode`
  * image XObjects with `/K -1` — the compression virtually every scanned
  * bilevel PDF in a real crawl uses (the reference ingests such files
  * through PyMuPDF's rasterizer, `smart_extract.py:64-97`; here the router's
  * image sniff must DECODE the payload before a text-free page may promote
  * to the high-confidence scanned route, same contract as `/DCTDecode`).
  *
  * Both directions are implemented from the published T.4/T.6 tables:
  * vertical/pass/horizontal mode codes against a reference line of changing
  * elements, modified-Huffman white/black run codes with make-ups to 2560
  * (longer runs chain 2560-makeups), EOFB termination. The raster form is
  * 1 byte per pixel, 0 = white / 1 = black (polarity mapping to the PDF
  * `/BlackIs1` convention is the caller's concern — the synthetic writer
  * always sets `/BlackIs1 true` so bit 1 means black on the wire too).
  *
  * Decode is total: any malformed payload (truncated bits, runs overshooting
  * the row, non-table codes) returns None, never throws — a corrupt stream
  * must not kill an executor, it must route the document into the failure
  * taxonomy.
  */
object CcittG4 {

  final case class Image(raster: Array[Byte], w: Int, h: Int)

  // ---------- code tables (ITU-T T.4 §2.3.1.2, shared by T.6) ----------

  // (run, bit pattern) — pattern strings keep the tables auditable against
  // the published standard; parsed once at class init.
  private val whiteTerm = Seq(
    0 -> "00110101", 1 -> "000111", 2 -> "0111", 3 -> "1000",
    4 -> "1011", 5 -> "1100", 6 -> "1110", 7 -> "1111",
    8 -> "10011", 9 -> "10100", 10 -> "00111", 11 -> "01000",
    12 -> "001000", 13 -> "000011", 14 -> "110100", 15 -> "110101",
    16 -> "101010", 17 -> "101011", 18 -> "0100111", 19 -> "0001100",
    20 -> "0001000", 21 -> "0010111", 22 -> "0000011", 23 -> "0000100",
    24 -> "0101000", 25 -> "0101011", 26 -> "0010011", 27 -> "0100100",
    28 -> "0011000", 29 -> "00000010", 30 -> "00000011", 31 -> "00011010",
    32 -> "00011011", 33 -> "00010010", 34 -> "00010011", 35 -> "00010100",
    36 -> "00010101", 37 -> "00010110", 38 -> "00010111", 39 -> "00101000",
    40 -> "00101001", 41 -> "00101010", 42 -> "00101011", 43 -> "00101100",
    44 -> "00101101", 45 -> "00000100", 46 -> "00000101", 47 -> "00001010",
    48 -> "00001011", 49 -> "01010010", 50 -> "01010011", 51 -> "01010100",
    52 -> "01010101", 53 -> "00100100", 54 -> "00100101", 55 -> "01011000",
    56 -> "01011001", 57 -> "01011010", 58 -> "01011011", 59 -> "01001010",
    60 -> "01001011", 61 -> "00110010", 62 -> "00110011", 63 -> "00110100")

  private val whiteMakeup = Seq(
    64 -> "11011", 128 -> "10010", 192 -> "010111", 256 -> "0110111",
    320 -> "00110110", 384 -> "00110111", 448 -> "01100100",
    512 -> "01100101", 576 -> "01101000", 640 -> "01100111",
    704 -> "011001100", 768 -> "011001101", 832 -> "011010010",
    896 -> "011010011", 960 -> "011010100", 1024 -> "011010101",
    1088 -> "011010110", 1152 -> "011010111", 1216 -> "011011000",
    1280 -> "011011001", 1344 -> "011011010", 1408 -> "011011011",
    1472 -> "010011000", 1536 -> "010011001", 1600 -> "010011010",
    1664 -> "011000", 1728 -> "010011011")

  private val blackTerm = Seq(
    0 -> "0000110111", 1 -> "010", 2 -> "11", 3 -> "10",
    4 -> "011", 5 -> "0011", 6 -> "0010", 7 -> "00011",
    8 -> "000101", 9 -> "000100", 10 -> "0000100", 11 -> "0000101",
    12 -> "0000111", 13 -> "00000100", 14 -> "00000111", 15 -> "000011000",
    16 -> "0000010111", 17 -> "0000011000", 18 -> "0000001000",
    19 -> "00001100111", 20 -> "00001101000", 21 -> "00001101100",
    22 -> "00000110111", 23 -> "00000101000", 24 -> "00000010111",
    25 -> "00000011000", 26 -> "000011001010", 27 -> "000011001011",
    28 -> "000011001100", 29 -> "000011001101", 30 -> "000001101000",
    31 -> "000001101001", 32 -> "000001101010", 33 -> "000001101011",
    34 -> "000011010010", 35 -> "000011010011", 36 -> "000011010100",
    37 -> "000011010101", 38 -> "000011010110", 39 -> "000011010111",
    40 -> "000001101100", 41 -> "000001101101", 42 -> "000011011010",
    43 -> "000011011011", 44 -> "000001010100", 45 -> "000001010101",
    46 -> "000001010110", 47 -> "000001010111", 48 -> "000001100100",
    49 -> "000001100101", 50 -> "000001010010", 51 -> "000001010011",
    52 -> "000000100100", 53 -> "000000110111", 54 -> "000000111000",
    55 -> "000000100111", 56 -> "000000101000", 57 -> "000001011000",
    58 -> "000001011001", 59 -> "000000101011", 60 -> "000000101100",
    61 -> "000001011010", 62 -> "000001100110", 63 -> "000001100111")

  private val blackMakeup = Seq(
    64 -> "0000001111", 128 -> "000011001000", 192 -> "000011001001",
    256 -> "000001011011", 320 -> "000000110011", 384 -> "000000110100",
    448 -> "000000110101", 512 -> "0000001101100", 576 -> "0000001101101",
    640 -> "0000001001010", 704 -> "0000001001011", 768 -> "0000001001100",
    832 -> "0000001001101", 896 -> "0000001110010", 960 -> "0000001110011",
    1024 -> "0000001110100", 1088 -> "0000001110101", 1152 -> "0000001110110",
    1216 -> "0000001110111", 1280 -> "0000001010010", 1344 -> "0000001010011",
    1408 -> "0000001010100", 1472 -> "0000001010101", 1536 -> "0000001011010",
    1600 -> "0000001011011", 1664 -> "0000001100100", 1728 -> "0000001100101")

  // extended make-ups 1792–2560 are colour-independent (T.4 table 3)
  private val extMakeup = Seq(
    1792 -> "00000001000", 1856 -> "00000001100", 1920 -> "00000001101",
    1984 -> "000000010010", 2048 -> "000000010011", 2112 -> "000000010100",
    2176 -> "000000010101", 2240 -> "000000010110", 2304 -> "000000010111",
    2368 -> "000000011100", 2432 -> "000000011101", 2496 -> "000000011110",
    2560 -> "000000011111")

  private def bits(p: String): (Int, Int) = (Integer.parseInt(p, 2), p.length)

  // decode maps: (codeLen << 16 | codeValue) -> run
  private def mkDecode(tabs: Seq[(Int, String)]*): java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer]()
    tabs.flatten.foreach { case (run, p) =>
      val (v, len) = bits(p)
      m.put((len << 16) | v, run)
    }
    m
  }
  private val whiteDecode = mkDecode(whiteTerm, whiteMakeup, extMakeup)
  private val blackDecode = mkDecode(blackTerm, blackMakeup, extMakeup)

  // encode maps: run -> (value, len), terminating and make-up separately
  private def mkEncode(tab: Seq[(Int, String)]): Map[Int, (Int, Int)] =
    tab.map { case (run, p) => run -> bits(p) }.toMap
  private val whiteTermEnc = mkEncode(whiteTerm)
  private val blackTermEnc = mkEncode(blackTerm)
  private val whiteMakeupEnc = mkEncode(whiteMakeup) ++ mkEncode(extMakeup)
  private val blackMakeupEnc = mkEncode(blackMakeup) ++ mkEncode(extMakeup)

  // ---------- bit IO ----------

  private final class BitReader(data: Array[Byte]) {
    private var pos = 0
    private val nBits = data.length * 8
    /** next bit, or -1 past end */
    def read1(): Int =
      if (pos >= nBits) -1
      else { val b = (data(pos >>> 3) >>> (7 - (pos & 7))) & 1; pos += 1; b }
  }

  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream(256)
    private var cur = 0
    private var nCur = 0
    def put(value: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        cur = (cur << 1) | ((value >>> i) & 1)
        nCur += 1
        if (nCur == 8) { buf.write(cur); cur = 0; nCur = 0 }
        i -= 1
      }
    }
    def toBytes: Array[Byte] = {
      if (nCur > 0) { buf.write(cur << (8 - nCur)); cur = 0; nCur = 0 }
      buf.toByteArray
    }
  }

  // ---------- decode ----------

  /** Decode one colour run (make-up chain + terminating code). ≥0 on
    * success, -1 on malformed/truncated input. */
  private def readRun(in: BitReader, white: Boolean): Int = {
    val table = if (white) whiteDecode else blackDecode
    var total = 0
    var terminating = false
    while (!terminating) {
      var v = 0
      var len = 0
      var run = -1
      while (run < 0 && len < 14) {
        val b = in.read1()
        if (b < 0) return -1
        v = (v << 1) | b
        len += 1
        val hit = table.get((len << 16) | v)
        if (hit != null) run = hit
      }
      if (run < 0) return -1
      total += run
      // every table run is either < 64 (terminating) or a ≥64 multiple of
      // 64 (make-up, which must chain into another code)
      terminating = run < 64
      if (total > (1 << 20)) return -1 // absurd chain — malformed
    }
    total
  }

  /** Decode a G4 (`/K -1`) payload into a 1-byte-per-pixel raster
    * (0 white, 1 black). None on any malformed input. */
  def decode(data: Array[Byte], columns: Int, rows: Int): Option[Image] = {
    if (columns <= 0 || rows <= 0 || columns > (1 << 16) || rows > (1 << 16) ||
        columns.toLong * rows > (64L << 20)) return None
    val in = new BitReader(data)
    val raster = new Array[Byte](columns * rows)
    // reference line as changing-element positions; starts "all white"
    val ref = new Array[Int](columns + 2)
    var refLen = 0
    val cur = new Array[Int](columns + 2)
    var row = 0
    var ok = true
    while (ok && row < rows) {
      var curLen = 0
      var a0 = -1
      var white = true
      while (ok && a0 < columns) {
        // b1: first ref transition > a0 whose parity matches the current
        // colour (even transitions flip white->black, odd black->white)
        var i = 0
        while (i < refLen && (ref(i) <= a0 || (i & 1) != (if (white) 0 else 1))) i += 1
        val b1 = if (i < refLen) ref(i) else columns
        val b2 = if (i + 1 < refLen) ref(i + 1) else columns
        // mode code
        val m1 = in.read1()
        if (m1 < 0) ok = false
        else if (m1 == 1) { // V0
          ok = emitVertical(raster, row * columns, a0, b1, white, columns, cur, curLen)
          if (ok) { curLen += 1; a0 = b1; white = !white }
        } else {
          val m2 = in.read1()
          if (m2 == 1) { // 01x: VR1 / VL1
            val d = in.read1(); if (d < 0) ok = false
            else {
              val a1 = b1 + (if (d == 1) 1 else -1)
              ok = emitVertical(raster, row * columns, a0, a1, white, columns, cur, curLen)
              if (ok) { curLen += 1; a0 = a1; white = !white }
            }
          } else if (m2 == 0) {
            val m3 = in.read1()
            if (m3 == 1) { // 001: horizontal — two runs, colour unchanged
              val start = if (a0 < 0) 0 else a0
              val r1 = readRun(in, white)
              val r2 = if (r1 < 0) -1 else readRun(in, !white)
              if (r1 < 0 || r2 < 0 || start + r1 + r2 > columns) ok = false
              else {
                fill(raster, row * columns, start, start + r1, white)
                fill(raster, row * columns, start + r1, start + r1 + r2, !white)
                cur(curLen) = start + r1; curLen += 1
                cur(curLen) = start + r1 + r2; curLen += 1
                a0 = start + r1 + r2
              }
            } else if (m3 == 0) {
              val m4 = in.read1()
              if (m4 == 1) { // 0001: pass — fill through b2, colour unchanged
                if (b2 > columns) ok = false
                else {
                  fill(raster, row * columns, if (a0 < 0) 0 else a0, b2, white)
                  a0 = b2
                }
              } else if (m4 == 0) {
                val m5 = in.read1()
                if (m5 == 1) { // 00001x: VR2 / VL2
                  val d = in.read1(); if (d < 0) ok = false
                  else {
                    val a1 = b1 + (if (d == 1) 2 else -2)
                    ok = emitVertical(raster, row * columns, a0, a1, white, columns, cur, curLen)
                    if (ok) { curLen += 1; a0 = a1; white = !white }
                  }
                } else if (m5 == 0) {
                  val m6 = in.read1()
                  if (m6 == 1) { // 000001x: VR3 / VL3
                    val d = in.read1(); if (d < 0) ok = false
                    else {
                      val a1 = b1 + (if (d == 1) 3 else -3)
                      ok = emitVertical(raster, row * columns, a0, a1, white, columns, cur, curLen)
                      if (ok) { curLen += 1; a0 = a1; white = !white }
                    }
                  } else ok = false // 0000000…: EOFB/extension mid-image = malformed
                } else ok = false
              } else ok = false
            } else ok = false
          } else ok = false
        }
      }
      if (ok) {
        if (a0 != columns) ok = false
        else {
          // coding line becomes next row's reference line
          System.arraycopy(cur, 0, ref, 0, curLen)
          refLen = curLen
          row += 1
        }
      }
    }
    if (ok) Some(Image(raster, columns, rows)) else None
  }

  /** Fill a vertical-mode run and record the new changing element; false on
    * geometry violations (a1 out of [0, columns], or behind a0). */
  private def emitVertical(raster: Array[Byte], base: Int, a0: Int, a1: Int,
                           white: Boolean, columns: Int,
                           cur: Array[Int], curLen: Int): Boolean = {
    if (a1 < 0 || a1 > columns || a1 < (if (a0 < 0) 0 else a0)) false
    else {
      fill(raster, base, if (a0 < 0) 0 else a0, a1, white)
      cur(curLen) = a1
      true
    }
  }

  private def fill(raster: Array[Byte], base: Int, from: Int, until: Int,
                   white: Boolean): Unit = {
    if (!white) java.util.Arrays.fill(raster, base + from, base + until, 1.toByte)
    // raster starts zeroed = white
  }

  // ---------- encode ----------

  private def putRun(out: BitWriter, run0: Int, white: Boolean): Unit = {
    var run = run0
    val makeup = if (white) whiteMakeupEnc else blackMakeupEnc
    val term = if (white) whiteTermEnc else blackTermEnc
    while (run > 2623) { val (v, l) = makeup(2560); out.put(v, l); run -= 2560 }
    if (run >= 64) { val (v, l) = makeup(run / 64 * 64); out.put(v, l); run %= 64 }
    val (v, l) = term(run)
    out.put(v, l)
  }

  /** Changing-element positions of one raster row (transitions from the
    * previous pixel, line starts white). Returns the count written. */
  private def transitions(raster: Array[Byte], base: Int, columns: Int,
                          out: Array[Int]): Int = {
    var n = 0
    var prev: Byte = 0
    var x = 0
    while (x < columns) {
      val p = raster(base + x)
      if (p != prev) { out(n) = x; n += 1; prev = p }
      x += 1
    }
    n
  }

  /** Encode a 1-byte-per-pixel raster (0 white / 1 black) as G4 + EOFB. */
  def encode(img: Image): Array[Byte] = {
    val columns = img.w
    val out = new BitWriter
    var ref = new Array[Int](columns + 2)
    var refLen = 0
    var cur = new Array[Int](columns + 2)
    var row = 0
    while (row < img.h) {
      val curLen = transitions(img.raster, row * columns, columns, cur)
      var a0 = -1
      var white = true
      var ci = 0 // index into cur of the next transition after a0
      while (a0 < columns) {
        while (ci < curLen && cur(ci) <= (if (a0 < 0) -1 else a0)) ci += 1
        val a1 = if (ci < curLen) cur(ci) else columns
        val a2 = if (ci + 1 < curLen) cur(ci + 1) else columns
        var i = 0
        while (i < refLen && (ref(i) <= a0 || (i & 1) != (if (white) 0 else 1))) i += 1
        val b1 = if (i < refLen) ref(i) else columns
        val b2 = if (i + 1 < refLen) ref(i + 1) else columns
        if (b2 < a1) { // pass
          out.put(1, 4) // 0001
          a0 = b2
        } else if (math.abs(a1 - b1) <= 3) { // vertical
          (a1 - b1) match {
            case 0 => out.put(1, 1)
            case 1 => out.put(3, 3) // 011
            case -1 => out.put(2, 3) // 010
            case 2 => out.put(3, 6) // 000011
            case -2 => out.put(2, 6) // 000010
            case 3 => out.put(3, 7) // 0000011
            case -3 => out.put(2, 7) // 0000010
          }
          a0 = a1; white = !white
        } else { // horizontal
          out.put(1, 3) // 001
          val start = if (a0 < 0) 0 else a0
          putRun(out, a1 - start, white)
          putRun(out, a2 - a1, !white)
          a0 = a2
        }
      }
      val t = ref; ref = cur; cur = t
      refLen = curLen
      row += 1
    }
    // EOFB: two EOLs (000000000001 ×2)
    out.put(1, 12); out.put(1, 12)
    out.toBytes
  }
}
