package graft.multimodal

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native synthesizers for the three REAL media fixture tables — the
  * compiled twins of the declarative payload constructions (per-pixel
  * `lpad(hex(...))` transforms, the closed-form adler fold, chunk-level
  * `concat`s) that dominated the decode queries' cost once the decode side
  * itself was kernel-compiled: synthesizing a 5k-document PNG table spent
  * ~350 µs/row in interpreted lambdas to produce ~1 KB of bytes. One
  * compiled byte-array build per row replaces all of it.
  *
  * The BYTES ARE THE CONTRACT, pinned independently of how they're
  * produced: MultimodalSpec decodes every PNG with javax.imageio (full
  * zlib inflate + CRC checks), re-decodes WAV/BMP with java.nio reference
  * readers, and the DuckDB oracles recompute every feature from the
  * planting FORMULAS without touching bytes — any deviation from the
  * declarative construction (which these kernels mirror field-for-field:
  * true CRC32s, closed-form adler32, RIFF/data sizes, bottom-up BGR
  * stride rows) hash-mismatches or fails ImageIO. Planted formulas stay
  * in one place ([[MediaSynth]]) for both kernels and Scaladoc.
  */
object MediaSynth {

  // ---- shared little/big-endian writers ----------------------------------
  private def beU32(out: Array[Byte], i: Int, v: Long): Unit = {
    out(i) = (v >>> 24).toByte; out(i + 1) = (v >>> 16).toByte
    out(i + 2) = (v >>> 8).toByte; out(i + 3) = v.toByte
  }
  private def leU32(out: Array[Byte], i: Int, v: Long): Unit = {
    out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
  }
  private def leU16(out: Array[Byte], i: Int, v: Int): Unit = {
    out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
  }
  private def ascii(out: Array[Byte], i: Int, s: String): Unit = {
    var k = 0
    while (k < s.length) { out(i + k) = s.charAt(k).toByte; k += 1 }
  }
  private def crc32(p: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32(); c.update(p, off, len); c.getValue
  }

  /** Stored-deflate truecolor PNG (same layout the declarative builder
    * emitted: IHDR with true CRC, one stored-block IDAT with true adler32
    * and CRC, IEND). Planted: w = 4+id%7, h = 4+id%5, R=(id+7x+13y)%256,
    * G=(3id+5x+11y)%256, B=(5id+3x+17y)%256.
    */
  def png(id: Long): Array[Byte] = {
    val w = (4 + id % 7).toInt
    val h = (4 + id % 5).toInt
    val rowBytes = w * 3 + 1
    val rawLen = h * rowBytes
    // sig 8 + IHDR 25 + IDAT(12 + 7 + rawLen + 4) + IEND 12
    val out = new Array[Byte](8 + 25 + 12 + 7 + rawLen + 4 + 12)
    out(0) = 0x89.toByte; ascii(out, 1, "PNG")
    out(4) = 0x0D; out(5) = 0x0A; out(6) = 0x1A; out(7) = 0x0A
    beU32(out, 8, 13); ascii(out, 12, "IHDR")
    beU32(out, 16, w); beU32(out, 20, h)
    out(24) = 8; out(25) = 2 // 8-bit truecolor, compr/filter/interlace 0
    beU32(out, 29, crc32(out, 12, 17))
    beU32(out, 33, rawLen + 11L); ascii(out, 37, "IDAT")
    out(41) = 0x78; out(42) = 0x01 // zlib CMF/FLG
    out(43) = 0x01 // BFINAL=1, BTYPE=00
    leU16(out, 44, rawLen); leU16(out, 46, 65535 - rawLen)
    var a = 1L; var b = 0L
    var i = 48
    var y = 0
    while (y < h) {
      out(i) = 0 // filter type 0; adler: a += 0
      b += a; if (b >= 65521L) b -= 65521L
      i += 1
      var x = 0
      while (x < w) {
        val r = ((id + 7L * x + 13L * y) % 256).toInt
        val g = ((3L * id + 5L * x + 11L * y) % 256).toInt
        val bl = ((5L * id + 3L * x + 17L * y) % 256).toInt
        out(i) = r.toByte; out(i + 1) = g.toByte; out(i + 2) = bl.toByte
        a += r; if (a >= 65521L) a -= 65521L
        b += a; if (b >= 65521L) b -= 65521L
        a += g; if (a >= 65521L) a -= 65521L
        b += a; if (b >= 65521L) b -= 65521L
        a += bl; if (a >= 65521L) a -= 65521L
        b += a; if (b >= 65521L) b -= 65521L
        i += 3; x += 1
      }
      y += 1
    }
    beU32(out, i, b * 65536L + a)
    beU32(out, i + 4, crc32(out, 37, 4 + 7 + rawLen + 4)) // over IDAT body
    beU32(out, i + 8, 0); ascii(out, i + 12, "IEND")
    beU32(out, i + 16, 0xAE426082L)
    out
  }

  // ---- RFC 1951 fixed-Huffman encoder (the BTYPE=01 fixture path) --------

  // the RFC's public length/distance alphabets (mirrored, independently,
  // by the decoder in graft.functions.MediaDecode — encoder and decoder
  // deliberately do NOT share code so a table typo cannot self-verify)
  private val encLenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17,
    19, 23, 27, 31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val encLenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2,
    2, 2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val encDistBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49,
    65, 97, 129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097,
    6145, 8193, 12289, 16385, 24577)
  private val encDistExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5,
    6, 6, 7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)

  /** The LSB-first bit packer RFC 1951 streams need: whole codes and
    * fields go into an `Int` accumulator that flushes full bytes to a
    * growable array.
    */
  private final class DeflateWriter {
    private var buf = new Array[Byte](256)
    private var n = 0
    private var acc = 0 // pending bits: the low `nb` bits
    private var nb = 0

    /** A `len`-bit field, least significant bit first (len ≤ 16). */
    def field(v: Int, len: Int): Unit = {
      acc |= (v & ((1 << len) - 1)) << nb
      nb += len
      while (nb >= 8) {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
        buf(n) = acc.toByte
        n += 1
        acc >>>= 8
        nb -= 8
      }
    }

    /** A Huffman code, most significant bit of the code first. */
    def code(c: Int, len: Int): Unit = field(Integer.reverse(c) >>> (32 - len), len)

    /** The stream, its last partial byte zero-padded. */
    def finish(): Array[Byte] = {
      if (nb > 0) field(0, 8 - nb)
      java.util.Arrays.copyOf(buf, n)
    }
  }

  /** One fixed-Huffman deflate block (BFINAL=1, BTYPE=01) over `raw`,
    * written per RFC 1951 bit packing: fields fill bytes LSB-first,
    * Huffman codes emit MSB-of-code-first, extra-bit fields are plain
    * LSB-first integers. Even scanline rows emit literal codes; every odd
    * row emits ONE LZ77 back-reference (len = dist = rowBytes) copying the
    * row above — legal because [[pngFixed]] plants odd rows as exact
    * repeats — so the fixture stream exercises the literal, length-extra,
    * and distance-extra decode paths, not just literals.
    */
  private[graft] def fixedDeflate(raw: Array[Byte], rowBytes: Int): Array[Byte] = {
    val out = new DeflateWriter
    def putLit(v: Int): Unit =
      if (v < 144) out.code(0x30 + v, 8) else out.code(0x190 + (v - 144), 9)
    def putMatch(len: Int, dist: Int): Unit = {
      var li = encLenBase.length - 1
      while (encLenBase(li) > len) li -= 1
      val sym = 257 + li
      if (sym <= 279) out.code(sym - 256, 7) else out.code(0xC0 + (sym - 280), 8)
      out.field(len - encLenBase(li), encLenExtra(li))
      var di = encDistBase.length - 1
      while (encDistBase(di) > dist) di -= 1
      out.code(di, 5)
      out.field(dist - encDistBase(di), encDistExtra(di))
    }
    out.field(1, 1) // BFINAL
    out.field(1, 2) // BTYPE=01
    val h = raw.length / rowBytes
    var y = 0
    while (y < h) {
      if (y % 2 == 1) putMatch(rowBytes, rowBytes)
      else {
        var x = 0
        while (x < rowBytes) { putLit(raw(y * rowBytes + x) & 0xFF); x += 1 }
      }
      y += 1
    }
    out.code(0, 7) // end-of-block (symbol 256)
    out.finish()
  }

  /** Fixed-Huffman truecolor PNG — the BTYPE=01 sibling of [[png]]: same
    * signature/IHDR/IEND framing with true CRCs and adler32, but the IDAT
    * body is one fixed-Huffman deflate block mixing literals and LZ77
    * back-references (see [[fixedDeflate]]). Planted: w = 4+id%6,
    * h = 4+id%7, pixels take the stored fixture's RGB formulas evaluated
    * at y' = y − y%2 — odd rows repeat their predecessor exactly, which is
    * what makes the whole-row back-reference legal AND keeps the oracle a
    * pure formula (the DuckDB side just substitutes y').
    */
  def pngFixed(id: Long): Array[Byte] = {
    val w = (4 + id % 6).toInt
    val h = (4 + id % 7).toInt
    val rowBytes = w * 3 + 1
    val rawLen = h * rowBytes
    val raw = new Array[Byte](rawLen)
    var i = 0
    var y = 0
    while (y < h) {
      val ys = y - (y % 2)
      raw(i) = 0 // filter type 0
      i += 1
      var x = 0
      while (x < w) {
        raw(i) = ((id + 7L * x + 13L * ys) % 256).toByte
        raw(i + 1) = ((3L * id + 5L * x + 11L * ys) % 256).toByte
        raw(i + 2) = ((5L * id + 3L * x + 17L * ys) % 256).toByte
        i += 3
        x += 1
      }
      y += 1
    }
    var a = 1L
    var b = 0L
    var k = 0
    while (k < rawLen) {
      val v = raw(k) & 0xFF
      a += v; if (a >= 65521L) a -= 65521L
      b += a; if (b >= 65521L) b -= 65521L
      k += 1
    }
    val deflated = fixedDeflate(raw, rowBytes)
    val idatLen = 2 + deflated.length + 4
    val out = new Array[Byte](8 + 25 + 12 + idatLen + 12)
    out(0) = 0x89.toByte; ascii(out, 1, "PNG")
    out(4) = 0x0D; out(5) = 0x0A; out(6) = 0x1A; out(7) = 0x0A
    beU32(out, 8, 13); ascii(out, 12, "IHDR")
    beU32(out, 16, w); beU32(out, 20, h)
    out(24) = 8; out(25) = 2 // 8-bit truecolor, compr/filter/interlace 0
    beU32(out, 29, crc32(out, 12, 17))
    beU32(out, 33, idatLen); ascii(out, 37, "IDAT")
    out(41) = 0x78; out(42) = 0x9C.toByte // CMF/FLG (0x789C % 31 == 0)
    System.arraycopy(deflated, 0, out, 43, deflated.length)
    beU32(out, 43 + deflated.length, b * 65536L + a)
    beU32(out, 47 + deflated.length, crc32(out, 37, 4 + idatLen))
    val e = 51 + deflated.length
    beU32(out, e, 0); ascii(out, e + 4, "IEND")
    beU32(out, e + 8, 0xAE426082L)
    out
  }

  /** Dynamic-Huffman truecolor PNG — the IDAT holds whatever the JDK's
    * REAL zlib (`java.util.zip.Deflater`, level 9, zlib wrapper) emits for
    * the planted scanlines: with the low-entropy pixel field below the
    * coder picks dynamic-Huffman (BTYPE=10) blocks, so these fixtures
    * exercise the code-length-code machinery with production-encoder
    * output rather than hand-rolled streams (MultimodalSpec asserts the
    * BTYPE and ImageIO parity). Planted: w = 8+id%9, h = 8+id%7, odd rows
    * repeat their predecessor (y' = y−y%2) and channels live in a 64-value
    * range — R=(id+7x+13y')%64, G=(3id+5x+11y')%64, B=(5id+3x+17y')%64 —
    * the skewed literal histogram that makes a dynamic table beat the
    * fixed one.
    */
  def pngDynamic(id: Long): Array[Byte] = {
    val w = (8 + id % 9).toInt
    val h = (8 + id % 7).toInt
    val rowBytes = w * 3 + 1
    val rawLen = h * rowBytes
    val raw = new Array[Byte](rawLen)
    var i = 0
    var y = 0
    while (y < h) {
      val ys = y - (y % 2)
      raw(i) = 0 // filter type 0
      i += 1
      var x = 0
      while (x < w) {
        raw(i) = ((id + 7L * x + 13L * ys) % 64).toByte
        raw(i + 1) = ((3L * id + 5L * x + 11L * ys) % 64).toByte
        raw(i + 2) = ((5L * id + 3L * x + 17L * ys) % 64).toByte
        i += 3
        x += 1
      }
      y += 1
    }
    val d = new java.util.zip.Deflater(9) // zlib wrapper: CMF/FLG + adler
    d.setInput(raw)
    d.finish()
    val buf = new Array[Byte](rawLen * 2 + 64)
    var zn = 0
    while (!d.finished()) zn += d.deflate(buf, zn, buf.length - zn)
    d.end()
    val idatLen = zn
    val out = new Array[Byte](8 + 25 + 12 + idatLen + 12)
    out(0) = 0x89.toByte; ascii(out, 1, "PNG")
    out(4) = 0x0D; out(5) = 0x0A; out(6) = 0x1A; out(7) = 0x0A
    beU32(out, 8, 13); ascii(out, 12, "IHDR")
    beU32(out, 16, w); beU32(out, 20, h)
    out(24) = 8; out(25) = 2
    beU32(out, 29, crc32(out, 12, 17))
    beU32(out, 33, idatLen); ascii(out, 37, "IDAT")
    System.arraycopy(buf, 0, out, 41, zn)
    beU32(out, 41 + zn, crc32(out, 37, 4 + idatLen))
    val e = 45 + zn
    beU32(out, e, 0); ascii(out, e + 4, "IEND")
    beU32(out, e + 8, 0xAE426082L)
    out
  }

  // ---- JPEG (ITU T.81) fixtures -------------------------------------------
  //
  // Every JPEG encoder below writes through the one MSB-first bitstream
  // writer [[JpegWriter]]. It stays encoder-only: the decoders in
  // graft.functions keep their own tables and bit reader, so a table typo
  // here cannot verify itself (the rule the deflate pair above follows).

  // standard Annex K DC-luminance BITS (codes per length 1..16; 12 symbols)
  private val jpegDcBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)

  // canonical code and length per DC category 0..11, from jpegDcBits
  // (T.81 Annex C)
  private val dcCode = new Array[Int](12)
  private val dcLen = new Array[Int](12)
  locally {
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < jpegDcBits(l)) { dcCode(k) = code; dcLen(k) = l; k += 1; code += 1; i += 1 }
      code <<= 1
      l += 1
    }
  }

  // The AC tables: each holds one code per length 1..n, so the k-th symbol
  // (HUFFVAL order) is 2^(k+1) − 2 on k+1 bits — 0, 10, 110, … — and no
  // codeword is all ones, so pad bits can never alias a symbol.
  private val acEobOnly = Array(0x00) // EOB
  private val acRun0 = Array(0x00, 0x01) // EOB, run0/size1
  private val acRun9 = Array(0x00, 0x91, 0x92) // EOB, run9/size1, run9/size2
  private val acProgY = Array(0x00, 0x91, 0x10, 0x20) // EOB0, run9/size1, EOB1, EOB2
  private val eobRuns4 = Array(0x00, 0x10, 0x20, 0x30, 0x40) // EOB0..EOB4
  private val eobRuns2 = Array(0x00, 0x10, 0x20) // EOB0..EOB2

  /** The MSB-first JPEG writer: a growable byte array, one emitter per
    * marker segment, bit packing with 0xFF00 stuffing, 1-bit padding to a
    * byte boundary (F.1.2.3), the DC-difference coder (F.1.2.1) and the
    * EOB-run coder (G.1.2.2).
    */
  private final class JpegWriter {
    private var buf = new Array[Byte](512)
    private var n = 0
    private var acc = 0 // pending bits: the low `nb` bits
    private var nb = 0

    def byte(v: Int): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
      buf(n) = v.toByte
      n += 1
    }
    private def marker(m: Int): Unit = { byte(0xFF); byte(m) }
    private def u16(v: Int): Unit = { byte(v >> 8); byte(v & 0xFF) }

    def soi(): Unit = marker(0xD8)

    /** 8-bit quantization table `tq`, Q ≡ 8 everywhere. */
    def dqt(tq: Int): Unit = {
      marker(0xDB); u16(67); byte(tq)
      var i = 0
      while (i < 64) { byte(8); i += 1 }
    }

    /** SOFn with 8-bit samples: component 1 (Y, QT 0) sampled `ySampling`;
      * with three components, Cb (2) and Cr (3) are 1×1 on QT 1.
      */
    def sof(kind: Int, width: Int, height: Int, comps: Int, ySampling: Int): Unit = {
      marker(kind); u16(8 + 3 * comps); byte(8); u16(height); u16(width); byte(comps)
      byte(1); byte(ySampling); byte(0)
      if (comps == 3) { byte(2); byte(0x11); byte(1); byte(3); byte(0x11); byte(1) }
    }

    /** DC table `th`: the Annex K luminance BITS over categories 0..11. */
    def dhtDc(th: Int): Unit = {
      marker(0xC4); u16(31); byte(th)
      var l = 1
      while (l <= 16) { byte(jpegDcBits(l)); l += 1 }
      var v = 0
      while (v < 12) { byte(v); v += 1 }
    }

    /** AC table `tcth` holding `ladder`, one code per length 1..n. */
    def dhtAc(tcth: Int, ladder: Array[Int]): Unit = {
      marker(0xC4); u16(19 + ladder.length); byte(tcth)
      var l = 0
      while (l < 16) { byte(if (l < ladder.length) 1 else 0); l += 1 }
      ladder.foreach(byte)
    }

    def dri(ri: Int): Unit = { marker(0xDD); u16(4); u16(ri) }

    /** SOS for the single component `cid` with table selector `tdta`. */
    def sos1(cid: Int, tdta: Int, ss: Int, se: Int, ahAl: Int): Unit = {
      marker(0xDA); u16(8); byte(1)
      byte(cid); byte(tdta)
      byte(ss); byte(se); byte(ahAl)
    }

    /** SOS interleaving Y (tables 0/0) with Cb and Cr (selector `chroma`). */
    def sos3(chroma: Int, ss: Int, se: Int, ahAl: Int): Unit = {
      marker(0xDA); u16(12); byte(3)
      byte(1); byte(0x00); byte(2); byte(chroma); byte(3); byte(chroma)
      byte(ss); byte(se); byte(ahAl)
    }

    /** Byte-align, then the RSTm that opens data unit `unit` of a scan
      * with restart interval `ri` (m cycles 0..7 from each scan's start).
      */
    def rst(unit: Int, ri: Int): Unit = { alignByte(); marker(0xD0 + (unit / ri - 1) % 8) }

    /** The low `len` bits of `v`, MSB first; a 0xFF byte gets a 0x00 stuffed. */
    def putBits(v: Int, len: Int): Unit = {
      acc = (acc << len) | (v & ((1 << len) - 1))
      nb += len
      while (nb >= 8) {
        nb -= 8
        val b = (acc >>> nb) & 0xFF
        byte(b)
        if (b == 0xFF) byte(0x00)
      }
      acc &= (1 << nb) - 1
    }

    /** Pad with 1-bits to the next byte boundary (T.81 F.1.2.3). */
    def alignByte(): Unit = if (nb > 0) putBits((1 << (8 - nb)) - 1, 8 - nb)

    // T.81 F.1.2.1: a value's size category, and its magnitude bits
    // (negative values as v + 2^s − 1)
    private def category(v: Int): Int = 32 - Integer.numberOfLeadingZeros(math.abs(v))
    private def magnitude(v: Int, s: Int): Int = if (v >= 0) v else v + (1 << s) - 1

    /** A DC difference: its category's Annex K code, then magnitude bits. */
    def putDcDiff(diff: Int): Unit = {
      val s = category(diff)
      putBits(dcCode(s), dcLen(s))
      putBits(magnitude(diff, s), s)
    }

    def putSym(ladder: Array[Int], sym: Int): Unit = {
      var k = 0
      while (ladder(k) != sym) k += 1
      putBits((2 << k) - 2, k + 1)
    }

    /** AC coefficient `v` after `run` zeros: symbol (run, size), then magnitude bits. */
    def putCoef(ladder: Array[Int], run: Int, v: Int): Unit = {
      val s = category(v)
      putSym(ladder, (run << 4) | s)
      putBits(magnitude(v, s), s)
    }

    /** A run of `run` end-of-band blocks (nothing when 0): EOBn with
      * n = ⌊log2 run⌋, then the low n bits of the run.
      */
    def putEobRun(run: Int, ladder: Array[Int]): Unit = if (run > 0) {
      val nbits = 31 - Integer.numberOfLeadingZeros(run)
      putSym(ladder, nbits << 4)
      putBits(run, nbits)
    }

    /** Byte-align, EOI, and the finished file. */
    def finish(): Array[Byte] = {
      alignByte(); marker(0xD9)
      java.util.Arrays.copyOf(buf, n)
    }
  }

  // the planted fields: luma/gray DC per block, chroma DCs per MCU, and
  // the one AC coefficient at zig-zag index 10
  private def lumaDc(id: Long, bx: Int, by: Int): Int =
    ((id + 5L * bx + 11L * by) % 160).toInt - 80
  private def cbDc(id: Long, mx: Int, my: Int): Int =
    ((3L * id + 7L * mx + 13L * my) % 100).toInt - 50
  private def crDc(id: Long, mx: Int, my: Int): Int =
    ((5L * id + 3L * mx + 17L * my) % 100).toInt - 50
  private def acAt10(id: Long, bx: Int, by: Int): Int = {
    val m = (1 + (id + bx + by) % 3).toInt
    if ((id + bx + by) % 2 == 0) m else -m
  }

  private def restartDue(unit: Int, ri: Int): Boolean = ri > 0 && unit > 0 && unit % ri == 0

  /** Baseline grayscale JPEG: dims 8·(1+id%3) × 8·(1+id%2), per block the
    * DC difference, then `ac(bx, by)` after `run` zeros unless it is 0,
    * then EOB, all coded from the AC table `ladder`. Restarts every `ri`
    * blocks reset the DC predictor.
    */
  private def grayBaseline(id: Long, ri: Int, ladder: Array[Int], run: Int,
      ac: (Int, Int) => Int): Array[Byte] = {
    val bw = (1 + id % 3).toInt
    val bh = (1 + id % 2).toInt
    val w = new JpegWriter
    w.soi(); w.dqt(0); w.sof(0xC0, 8 * bw, 8 * bh, 1, 0x11)
    w.dhtDc(0x00); w.dhtAc(0x10, ladder)
    if (ri > 0) w.dri(ri)
    w.sos1(1, 0x00, 0, 63, 0)
    var pred = 0
    var by = 0
    while (by < bh) {
      var bx = 0
      while (bx < bw) {
        val mcu = by * bw + bx
        if (restartDue(mcu, ri)) { w.rst(mcu, ri); pred = 0 }
        val dc = lumaDc(id, bx, by)
        w.putDcDiff(dc - pred)
        pred = dc
        val a = ac(bx, by)
        if (a != 0) w.putCoef(ladder, run, a)
        w.putSym(ladder, 0x00) // EOB
        bx += 1
      }
      by += 1
    }
    w.finish()
  }

  private final val DcBaseline = 0 // DC difference, then the block's EOB
  private final val DcFirst = 1 // progressive DC first, point transform Al = 1
  private final val DcRefine = 2 // progressive DC refinement: the raw bit dc & 1

  /** One interleaved DC pass over an mw×mh MCU grid: per MCU the hs×vs
    * luma units in A.2.3 order (left to right, then top to bottom), then
    * Cb, then Cr, each component chaining its own predictor; a restart
    * every `ri` MCUs resets all three. Luma block indices clamp to the
    * real lbw×lbh grid, so the pad units of a partial MCU repeat the edge
    * block. Ends byte-aligned.
    */
  private def colorDcPass(w: JpegWriter, id: Long, hs: Int, vs: Int, mw: Int, mh: Int,
      lbw: Int, lbh: Int, ri: Int, mode: Int): Unit = {
    val pred = new Array[Int](3)
    def unit(comp: Int, dc: Int): Unit =
      if (mode == DcRefine) w.putBits(dc & 1, 1)
      else {
        val t = if (mode == DcFirst) dc >> 1 else dc // arithmetic shift
        w.putDcDiff(t - pred(comp))
        pred(comp) = t
        if (mode == DcBaseline) w.putSym(acEobOnly, 0x00) // EOB
      }
    var mcu = 0
    var my = 0
    while (my < mh) {
      var mx = 0
      while (mx < mw) {
        if (restartDue(mcu, ri)) { w.rst(mcu, ri); java.util.Arrays.fill(pred, 0) }
        var sy = 0
        while (sy < vs) {
          var sx = 0
          while (sx < hs) {
            unit(0, lumaDc(id, math.min(hs * mx + sx, lbw - 1), math.min(vs * my + sy, lbh - 1)))
            sx += 1
          }
          sy += 1
        }
        unit(1, cbDc(id, mx, my))
        unit(2, crDc(id, mx, my))
        mcu += 1
        mx += 1
      }
      my += 1
    }
    w.alignByte()
  }

  /** An all-zero AC band over `n` blocks as EOB runs, cut at every
    * restart boundary (T.81 forbids a run crossing one). Ends byte-aligned.
    */
  private def zeroBand(w: JpegWriter, n: Int, ri: Int, ladder: Array[Int]): Unit = {
    var done = 0
    while (done < n) {
      if (done > 0) w.rst(done, ri)
      val seg = if (ri > 0) math.min(ri, n - done) else n - done
      w.putEobRun(seg, ladder)
      done += seg
    }
    w.alignByte()
  }

  /** AC first scan (band 1..63, Al = 1) over `n` blocks, each carrying one
    * coefficient `ac(blk)` at zig-zag 10: |ac| ≥ 2 codes run-9/size-1 of
    * |ac| >> 1, a block with |ac| = 1 vanishes entirely into the EOB run,
    * and every block's zero tail (11..63) ends in the run. A pending run
    * is coded before each restart. Ends byte-aligned.
    */
  private def acFirstScan(w: JpegWriter, n: Int, ri: Int, ac: Int => Int): Unit = {
    var eobrun = 0
    var blk = 0
    while (blk < n) {
      if (restartDue(blk, ri)) { w.putEobRun(eobrun, acProgY); eobrun = 0; w.rst(blk, ri) }
      val a = ac(blk)
      val t = math.abs(a) >> 1
      if (t != 0) {
        w.putEobRun(eobrun, acProgY)
        eobrun = 0
        w.putCoef(acProgY, 9, if (a >= 0) t else -t)
      }
      eobrun += 1
      blk += 1
    }
    w.putEobRun(eobrun, acProgY)
    w.alignByte()
  }

  /** AC refinement scan (Ah = 1, Al = 0; G.1.2.3) over the same blocks:
    * |ac| = 1 arrives newly nonzero (run 9 over zero-history slots, size 1,
    * sign), |ac| ≥ 2 sends only its correction bit |ac| & 1, buffered
    * until the EOB run it rides in is coded (jcphuff.c's structure).
    * Ends byte-aligned.
    */
  private def acRefineScan(w: JpegWriter, n: Int, ri: Int, ac: Int => Int): Unit = {
    val pending = new Array[Int](math.max(n, 0))
    var np = 0
    var eobrun = 0
    def codeRun(): Unit = if (eobrun > 0) {
      w.putEobRun(eobrun, acProgY)
      var i = 0
      while (i < np) { w.putBits(pending(i), 1); i += 1 }
      np = 0
      eobrun = 0
    }
    var blk = 0
    while (blk < n) {
      if (restartDue(blk, ri)) { codeRun(); w.rst(blk, ri) }
      val a = ac(blk)
      if (math.abs(a) > 1) { pending(np) = math.abs(a) & 1; np += 1 }
      else { codeRun(); w.putCoef(acProgY, 9, a) }
      eobrun += 1
      blk += 1
    }
    codeRun()
    w.alignByte()
  }

  /** Baseline grayscale JPEG with DC-ONLY blocks — REAL entropy framing
    * (canonical Huffman DC codes from the standard Annex K DC-luminance
    * table, a minimal one-entry AC table holding just EOB, MSB-first bit
    * packing with 0xFF00 byte stuffing, cross-block DC prediction), but
    * every block is flat so reconstruction is IDCT-exact in every
    * conforming decoder — what lets a formula oracle and byte-exact
    * ImageIO parity coexist with lossy-format machinery. Planted:
    * w = 8·(1+id%3), h = 8·(1+id%2), quantizer Q ≡ 8, per-block value
    * pixel = 48 + (id + 5·bx + 11·by) % 160 (DC = pixel − 128 ∈ [−80, 79],
    * so no clamping anywhere).
    */
  def jpeg(id: Long): Array[Byte] = jpeg(id, withAc = false)

  /** [[jpeg]] with a RESTART INTERVAL (round 15): same geometry, same
    * planted DC field — byte-identical pixels — but the entropy stream
    * carries DRI(Ri=1) framing: after every MCU the bit stream pads to a
    * byte, an RSTm marker (m cycling 0..7) follows, and the DC predictor
    * resets. Real web JPEGs carry restart intervals routinely (error
    * resilience), so the decoder's restart machinery needs a spec-true
    * fixture whose formulas the oracle already knows.
    */
  def jpegRestart(id: Long): Array[Byte] = jpeg(id, withAc = false, ri = 1)

  /** `withAc = true` is the SPEC-ONLY variant: the AC table gains a
    * run0/size1 code and every block carries one ±1 coefficient at
    * zig-zag position 1 (+1 for even id+bx+by) — exercising the kernel's
    * AC run-length layer and the reference IDCT, whose parity vs ImageIO
    * is then ±1/pixel (T.81 mandates no bit-exact IDCT), pinned with a
    * tolerance in MultimodalSpec. The oracle-checked fixture stays DC-only.
    */
  private[graft] def jpeg(id: Long, withAc: Boolean, ri: Int = 0): Array[Byte] =
    if (withAc) grayBaseline(id, ri, acRun0, 0, (bx, by) => if ((id + bx + by) % 2 == 0) 1 else -1)
    else grayBaseline(id, ri, acEobOnly, 0, (_, _) => 0)

  /** AC-EXACT baseline grayscale JPEG — the fixture that makes the AC
    * run-length layer HASH-checkable despite T.81's no-bit-exact-IDCT
    * latitude. Every block carries its DC plus exactly ONE AC coefficient
    * at ZIG-ZAG INDEX 10, i.e. (u, v) = (0, 4): that basis function is
    * constant in x and takes the value ±(√2/2) in y, so with C(0) = 1/√2
    * the whole 2-D term is ±F/8 — with Q ≡ 8 the reconstruction is the
    * INTEGER 128 + dc + ac·s(y), s(y) = +1 for y%4 ∈ {0,3} else −1, and
    * the reference double IDCT's ~1e-13 cosine noise vanishes under
    * round-to-nearest. Exact on both sides, so the DuckDB oracle is a
    * planted formula exactly as for PNG/BMP (r10 verdict task 4; the
    * zig-zag-1 [[jpeg(id:Long,withAc:Boolean)*]] variant remains the
    * tolerance-pinned general-IDCT probe). Planted: dims as [[jpeg]],
    * ac = ±(1 + (id+bx+by) % 3), sign + for even (id+bx+by). The AC DHT
    * carries EOB plus the (run=9, size=1|2) codes this stream needs —
    * run-length skip, ZRL-free, then EOB, exercising the same decode
    * branches as production scans.
    */
  def jpegAc(id: Long): Array[Byte] = grayBaseline(id, 0, acRun9, 9, acAt10(id, _, _))

  /** PROGRESSIVE (SOF2) grayscale JPEG — the round-15 fixture behind the
    * progressive decode tier, planted to be INTEGER-EXACT like
    * [[jpegAc]]: every block carries its DC plus one AC coefficient at
    * zig-zag index 10 (reconstruction = 128 + dc + ac·s(y), exact in
    * every conforming decoder), delivered through FOUR scans that
    * exercise the full T.81 Annex G machinery:
    *
    *  1. DC first (Ss=0, Se=0, Ah=0, Al=1): difference coding of the
    *     point-transformed dc >> 1;
    *  2. AC first (Ss=1, Se=63, Ah=0, Al=1): blocks with |ac| ≥ 2 emit a
    *     run-9/size-1 coefficient of |ac| >> 1; blocks with |ac| = 1
    *     vanish entirely into EOB runs (EOBn symbols with extra bits —
    *     run lengths vary 1..6 with the planted pattern);
    *  3. DC refinement (Ah=1, Al=0): one raw bit per block (dc & 1);
    *  4. AC refinement (Ah=1, Al=0): the G.1.2.3 coding — |ac| = 1
    *     coefficients arrive NEWLY NONZERO (run/size symbol + sign at a
    *     zero-history position), |ac| ≥ 2 coefficients emit correction
    *     bits (|ac| & 1) buffered across EOB runs exactly as the public
    *     encoder procedure (jcphuff.c structure) prescribes — so the
    *     decoder's inline-correction, newly-nonzero-insertion, and
    *     run-carried-bit paths ALL fire on the oracle-checked corpus.
    *
    * Planted: dims and dc as [[jpeg]], ac as [[jpegAc]] — the pixel
    * field is IDENTICAL to jpegAc's, so the DuckDB oracle for the
    * progressive row reuses the same formulas. The AC Huffman table
    * carries EOB0/EOB1/EOB2 and the run-9/size-1 symbol on a canonical
    * 1/2/3/4-bit ladder (no all-ones codeword, so pad bits can never
    * alias a symbol).
    */
  def jpegProgressive(id: Long): Array[Byte] = jpegProgressive(id, 0)

  /** [[jpegProgressive]] with DRI(Ri=2): per SCAN, after every 2 data
    * units the EOB run flushes (T.81 forbids a run crossing a restart),
    * the stream byte-aligns, an RSTm marker follows (m cycling from 0 at
    * each scan start, libjpeg's numbering), and the DC predictor resets.
    * Ri=2 rather than 1 so an EOB run can SPAN blocks inside an interval
    * and still must end at the boundary — the decoder state the marker
    * machinery actually guards.
    */
  def jpegProgressiveRestart(id: Long): Array[Byte] = jpegProgressive(id, 2)

  private[graft] def jpegProgressive(id: Long, ri: Int): Array[Byte] = {
    val bw = (1 + id % 3).toInt
    val bh = (1 + id % 2).toInt
    val nBlocks = bw * bh
    def dc(blk: Int): Int = lumaDc(id, blk % bw, blk / bw)
    val ac: Int => Int = blk => acAt10(id, blk % bw, blk / bw)
    val w = new JpegWriter
    w.soi(); w.dqt(0); w.sof(0xC2, 8 * bw, 8 * bh, 1, 0x11)
    w.dhtDc(0x00); w.dhtAc(0x10, acProgY)
    if (ri > 0) w.dri(ri)
    w.sos1(1, 0x00, 0, 0, 0x01) // scan 1: DC first, Al = 1
    var pred = 0
    var blk = 0
    while (blk < nBlocks) {
      if (restartDue(blk, ri)) { w.rst(blk, ri); pred = 0 }
      val t = dc(blk) >> 1 // point transform (arithmetic shift)
      w.putDcDiff(t - pred)
      pred = t
      blk += 1
    }
    w.alignByte()
    w.sos1(1, 0x00, 1, 63, 0x01) // scan 2: AC first, Al = 1
    acFirstScan(w, nBlocks, ri, ac)
    w.sos1(1, 0x00, 0, 0, 0x10) // scan 3: DC refinement, Ah = 1, Al = 0
    blk = 0
    while (blk < nBlocks) {
      if (restartDue(blk, ri)) w.rst(blk, ri)
      w.putBits(dc(blk) & 1, 1)
      blk += 1
    }
    w.alignByte()
    w.sos1(1, 0x00, 1, 63, 0x10) // scan 4: AC refinement, Ah = 1, Al = 0
    acRefineScan(w, nBlocks, ri, ac)
    w.finish()
  }

  /** DC-exact COLOR baseline JPEG — YCbCr 4:4:4, three full-resolution
    * components, DC-only blocks: the same every-conforming-decoder-agrees
    * corner as [[jpeg]], promoted to color. REAL multi-component T.81
    * framing: two 8-bit DQTs (luma table 0, chroma table 1, Q ≡ 8), SOF0
    * with three 1×1-sampled components, FOUR DHTs (DC/AC × table 0/1),
    * interleaved Y-Cb-Cr MCUs with per-component DC predictors, byte
    * stuffing. Flat blocks make each plane's reconstruction the integer
    * DC + 128 in every conforming decoder, and the YCbCr→RGB hop uses
    * libjpeg's exact 16-bit fixed-point tables (jdcolor.c) — the same
    * integers ImageIO's native reader computes — so the color output is
    * formula-exact end to end. Planted: dims as [[jpeg]];
    * yDc = ((id + 5bx + 11by) % 160) − 80, cbDc = ((3id + 7bx + 13by)
    * % 100) − 50, crDc = ((5id + 3bx + 17by) % 100) − 50. It is
    * [[jpegColorSampled]] at 1×1 sampling on the gray grid.
    */
  def jpegColor(id: Long): Array[Byte] =
    jpegColorSampled(id, 1, 1, 0, (1 + id % 3).toInt, (1 + id % 2).toInt)

  /** DC-exact COLOR baseline JPEG with 4:2:0 CHROMA SUBSAMPLING — the
    * layout virtually every real photographic JPEG uses: SOF0 declares Y
    * sampled 2×2 and Cb/Cr 1×1, each 16×16 MCU interleaves FOUR Y data
    * units (T.81 A.2.3 order) then one Cb and one Cr, and all four Y
    * units chain the single per-component DC predictor. The chroma plane
    * VARIES PER MCU (r12 verdict #3 — the flat-chroma corner is gone):
    * each chroma data unit is DC-only (flat within its 8×8 sample block)
    * but neighboring MCUs carry different chroma, so the decoder's
    * UPSAMPLING filter is load-bearing at every MCU boundary — box
    * replication and libjpeg's fancy triangular filter produce different
    * bytes there, and the kernel implements the triangular filter
    * (jdsample.c h2v2_fancy_upsample) byte-exactly, pinned against
    * ImageIO per pixel in MultimodalSpec. Planted: w = 16·(1+id%2),
    * h = 16·(1+id%3); per LUMA BLOCK (lbx, lby):
    * yDc = ((id + 5·lbx + 11·lby) % 160) − 80; per MCU (mx, my):
    * cbDc = ((3·id + 7·mx + 13·my) % 100) − 50,
    * crDc = ((5·id + 3·mx + 17·my) % 100) − 50.
    */
  def jpegColor420(id: Long): Array[Byte] = jpegColorSampled(id, 2, 2, 0)

  /** COLOR PROGRESSIVE (SOF2, 4:4:4) JPEG — the round-16 fixture behind
    * the color-progressive decode tier, planted to be INTEGER-EXACT like
    * [[jpegAc]]/[[jpegProgressive]]: Y carries its DC plus one AC at
    * zig-zag index 10 (reconstruction = 128 + dc + ac·s(y), exact in every
    * conforming decoder), Cb/Cr are DC-only, and the YCbCr→RGB hop is
    * libjpeg's deterministic fixed point — so a formula oracle covers the
    * full multi-component Annex G machinery. Six scans:
    *
    *  1. DC first, INTERLEAVED (Ns=3, Al=1): MCU-ordered Y,Cb,Cr data
    *     units with per-COMPONENT difference predictors — the scan shape
    *     every real progressive color JPEG opens with;
    *  2. AC first Y (Ss=1..63, Al=1): |ac| ≥ 2 emits run-9/size-1 of
    *     |ac| >> 1; |ac| = 1 blocks vanish into EOB runs;
    *  3./4. AC first Cb / Cr (Al=0): non-interleaved chroma scans — all
    *     blocks zero, pure EOB-run coding over the chroma block grid;
    *  5. DC refinement, INTERLEAVED (Ah=1): one raw bit per data unit in
    *     MCU order (dc & 1 per component);
    *  6. AC refinement Y (G.1.2.3): newly-nonzero insertions + correction
    *     bits, as [[jpegProgressive]] scan 4.
    *
    * Planted: dims and yDc/cbDc/crDc as [[jpegColor]], Y ac as [[jpegAc]]
    * — so the oracle is the [[jpegColor]] formulas with the AC term of
    * the progressive grayscale row added to Y. Huffman tables: Annex K DC
    * BITS ×2; AC0 = EOB0/run9-size1/EOB1/EOB2 on the 1/2/3/4-bit ladder;
    * AC1 = EOB0/EOB1/EOB2 on 1/2/3 bits (no all-ones codeword anywhere,
    * so pad bits cannot alias a symbol).
    */
  def jpegColorProgressive(id: Long): Array[Byte] = {
    val bw = (1 + id % 3).toInt
    val bh = (1 + id % 2).toInt
    val nBlocks = bw * bh
    val ac: Int => Int = blk => acAt10(id, blk % bw, blk / bw)
    val w = new JpegWriter
    w.soi(); w.dqt(0); w.dqt(1); w.sof(0xC2, 8 * bw, 8 * bh, 3, 0x11)
    w.dhtDc(0x00); w.dhtDc(0x01); w.dhtAc(0x10, acProgY); w.dhtAc(0x11, eobRuns2)
    w.sos3(0x10, 0, 0, 0x01)
    colorDcPass(w, id, 1, 1, bw, bh, bw, bh, 0, DcFirst)
    w.sos1(1, 0x00, 1, 63, 0x01)
    acFirstScan(w, nBlocks, 0, ac)
    for (cid <- 2 to 3) { w.sos1(cid, 0x11, 1, 63, 0x00); zeroBand(w, nBlocks, 0, eobRuns2) }
    w.sos3(0x10, 0, 0, 0x10)
    colorDcPass(w, id, 1, 1, bw, bh, bw, bh, 0, DcRefine)
    w.sos1(1, 0x00, 1, 63, 0x10)
    acRefineScan(w, nBlocks, 0, ac)
    w.finish()
  }

  /** PROGRESSIVE 4:2:0 COLOR JPEG — the pixel-identical progressive TWIN
    * of [[jpegColor420]] (round 16): same planted DC fields, same
    * dimensions, byte-different multi-scan SOF2 framing — which is what
    * lets the mixed-table formula oracles hold while the subsampled
    * multi-scan MCU walk is exercised in the hash gate. Scans: interleaved
    * DC first (Al=1; four Y units per MCU in A.2.3 order chaining one
    * luma predictor, then Cb, Cr), non-interleaved all-zero AC-first
    * scans per component (pure EOB-run coding over each component's REAL
    * block grid — for Y that grid differs from the padded interleaved one
    * whenever w or h is not a 16-multiple), and an interleaved DC
    * refinement (dc & 1 raw bits).
    */
  def jpegColor420Progressive(id: Long): Array[Byte] = jpegColorSampledProgressive(id, 2, 2, 0)

  /** GENERALIZED-SAMPLING DC-exact color baseline JPEG (round 17 — the
    * 4:2:2 / 4:4:0 envelope remainder): Y sampled hs×vs (hs, vs ∈ {1,2}),
    * chroma 1×1, per-axis MCU spans 8·hs × 8·vs, optional restart
    * framing. Planted exactly like [[jpegColor420]] — per LUMA BLOCK
    * (lbx, lby): yDc = ((id + 5·lbx + 11·lby) % 160) − 80; per MCU
    * (mx, my): cbDc = ((3id + 7mx + 13my) % 100) − 50,
    * crDc = ((5id + 3mx + 17my) % 100) − 50 — so one oracle family covers
    * every geometry; dims w = 8·hs·(1+id%2), h = 8·vs·(1+id%3).
    */
  def jpegColorSampled(id: Long, hs: Int, vs: Int, ri: Int): Array[Byte] =
    jpegColorSampled(id, hs, vs, ri, (1 + id % 2).toInt, (1 + id % 3).toInt)

  /** [[jpegColorSampled]] on an explicit grid of mw×mh MCUs. */
  private def jpegColorSampled(id: Long, hs: Int, vs: Int, ri: Int,
      mw: Int, mh: Int): Array[Byte] = {
    val w = new JpegWriter
    w.soi(); w.dqt(0); w.dqt(1); w.sof(0xC0, 8 * hs * mw, 8 * vs * mh, 3, (hs << 4) | vs)
    w.dhtDc(0x00); w.dhtDc(0x01); w.dhtAc(0x10, acEobOnly); w.dhtAc(0x11, acEobOnly)
    if (ri > 0) w.dri(ri)
    w.sos3(0x11, 0, 63, 0)
    colorDcPass(w, id, hs, vs, mw, mh, hs * mw, vs * mh, ri, DcBaseline)
    w.finish()
  }

  /** Progressive (SOF2) pixel-identical twin of [[jpegColorSampled]] —
    * generalizes [[jpegColor420Progressive]]'s scan plan to every (hs, vs)
    * geometry and adds RESTART framing (the round-17 hash-gate gap: color
    * progressive never carried DRI in the mixed table). Scans: interleaved
    * DC first (Al=1), per-component all-zero AC-first bands (EOB runs
    * SEGMENTED at restart boundaries — T.81 forbids a run crossing one),
    * interleaved DC refinement. Restart markers byte-align and cycle
    * 0..7 independently per scan; interleaved scans count the interval in
    * MCUs, non-interleaved in the component's real blocks. Huffman
    * tables: Annex K DC BITS ×2; AC0 = EOB0..EOB4 on the 1..5-bit ladder
    * (a Y grid holds up to 24 blocks, so one run needs EOB4); AC1 =
    * EOB0..EOB2.
    */
  def jpegColorSampledProgressive(id: Long, hs: Int, vs: Int, ri: Int): Array[Byte] =
    jpegColorSampledProgressive(id, hs, vs, ri,
      8 * hs * (1 + id % 2).toInt, 8 * vs * (1 + id % 3).toInt)

  /** [[jpegColorSampledProgressive]] with explicit dimensions (multiples
    * of 8, NOT necessarily of the MCU) — the spec probe for partial-MCU
    * geometry: when w or h stops inside an MCU, the padded luma grid
    * carries pad blocks the interleaved DC scans code (edge-replicated
    * DC) but the non-interleaved AC scans and emission skip. Same planted
    * formulas, luma blocks indexed over the REAL grid.
    */
  private[graft] def jpegColorSampledProgressive(id: Long, hs: Int, vs: Int, ri: Int,
      width: Int, height: Int): Array[Byte] = {
    require(width % 8 == 0 && height % 8 == 0, "dims must be block multiples")
    val mw = (width + 8 * hs - 1) / (8 * hs) // MCUs across
    val mh = (height + 8 * vs - 1) / (8 * vs)
    val lbw = width / 8 // REAL luma block grid
    val lbh = height / 8
    val w = new JpegWriter
    w.soi(); w.dqt(0); w.dqt(1); w.sof(0xC2, width, height, 3, (hs << 4) | vs)
    w.dhtDc(0x00); w.dhtDc(0x01); w.dhtAc(0x10, eobRuns4); w.dhtAc(0x11, eobRuns2)
    if (ri > 0) w.dri(ri)
    w.sos3(0x10, 0, 0, 0x01)
    colorDcPass(w, id, hs, vs, mw, mh, lbw, lbh, ri, DcFirst)
    w.sos1(1, 0x00, 1, 63, 0x00)
    zeroBand(w, lbw * lbh, ri, eobRuns4)
    for (cid <- 2 to 3) { w.sos1(cid, 0x11, 1, 63, 0x00); zeroBand(w, mw * mh, ri, eobRuns2) }
    w.sos3(0x10, 0, 0, 0x10)
    colorDcPass(w, id, hs, vs, mw, mh, lbw, lbh, ri, DcRefine)
    w.finish()
  }

  /** 4:2:2 baseline / progressive and 4:4:0 baseline / progressive — the
    * round-17 envelope rows; the id's low bit of its 8-quotient decides a
    * restart-interval twin exactly like the mixed table's gray rows.
    */
  def jpegColor422(id: Long): Array[Byte] = jpegColorSampled(id, 2, 1, 0)
  def jpegColor422Restart(id: Long): Array[Byte] = jpegColorSampled(id, 2, 1, 2)
  def jpegColor440(id: Long): Array[Byte] = jpegColorSampled(id, 1, 2, 0)
  def jpegColor440Restart(id: Long): Array[Byte] = jpegColorSampled(id, 1, 2, 2)
  def jpegColor422Progressive(id: Long): Array[Byte] =
    jpegColorSampledProgressive(id, 2, 1, 0)
  def jpegColor440Progressive(id: Long): Array[Byte] =
    jpegColorSampledProgressive(id, 1, 2, 0)

  /** DRI twin of [[jpegColor420Progressive]] (round-17 verdict #4: color-
    * progressive fixtures never carried DRI in the mixed table) — same
    * planted fields and dims, multi-component restart framing in every
    * scan, pixel-identical by construction.
    */
  def jpegColor420ProgressiveRestart(id: Long): Array[Byte] =
    jpegColorSampledProgressive(id, 2, 2, 2)

  /** ARITHMETIC-CODED sequential JPEG (SOF9, T.81 §F / Annex C.15) —
    * a DETECTION-ONLY honesty fixture: the header is spec-true (DQT,
    * SOF9 with planted dims, DAC conditioning, SOS), the entropy body is
    * token bytes. Neither this engine nor the IJG-derived ImageIO decodes
    * arithmetic entropy coding; the contract is that metadata DETECTS the
    * SOF9 family (dims + arith flag) and every decode tier reports
    * honest null instead of inventing pixels. Planted dims:
    * w = 8·(1+id%3), h = 8·(1+id%2) (the gray-tier formula).
    */
  def jpegArith(id: Long): Array[Byte] = {
    val w = new JpegWriter
    w.soi(); w.dqt(0)
    w.sof(0xC9, 8 * (1 + id % 3).toInt, 8 * (1 + id % 2).toInt, 1, 0x11)
    // DAC: DC conditioning table 0 (U=1, L=0), T.81 B.2.4.3
    w.byte(0xFF); w.byte(0xCC); w.byte(0); w.byte(4); w.byte(0x00); w.byte(0x01)
    w.sos1(1, 0x00, 0, 63, 0)
    w.byte(0xA5); w.byte(0x5A); w.byte(0xA5); w.byte(0x5A) // token entropy bytes — never decoded
    w.finish()
  }

  /** 24-bit uncompressed BMP (bottom-up BGR rows, 4-byte stride padding,
    * true size fields). Planted: w = 4+id%8, h = 4+id%6, same RGB field as
    * the PNG but with the BMP moduli for dimensions.
    */
  def bmp(id: Long): Array[Byte] = {
    val w = (4 + id % 8).toInt
    val h = (4 + id % 6).toInt
    val stride = (w * 3 + 3) & ~3
    val out = new Array[Byte](54 + stride * h)
    ascii(out, 0, "BM"); leU32(out, 2, 54L + stride * h)
    leU32(out, 10, 54); leU32(out, 14, 40)
    leU32(out, 18, w); leU32(out, 22, h)
    leU16(out, 26, 1); leU16(out, 28, 24)
    leU32(out, 30, 0); leU32(out, 34, stride.toLong * h)
    var j = 0
    while (j < h) {
      val y = h - 1 - j // stored row j holds image row y (bottom-up)
      var i = 54 + j * stride
      var x = 0
      while (x < w) {
        out(i) = ((5L * id + 3L * x + 17L * y) % 256).toByte // B
        out(i + 1) = ((3L * id + 5L * x + 11L * y) % 256).toByte // G
        out(i + 2) = ((id + 7L * x + 13L * y) % 256).toByte // R
        i += 3; x += 1
      }
      // stride padding bytes stay zero
      j += 1
    }
    out
  }

  /** Mono PCM16 WAV with true RIFF/byte-rate/data sizes. Planted:
    * n = 64+id%64 samples, rate by id%4, unsigned sample rendering
    * (id·7919 + i·104729) mod 65536, little-endian.
    */
  def wav(id: Long): Array[Byte] = {
    val n = (64 + id % 64).toInt
    val rate = (id % 4) match {
      case 0 => 8000L; case 1 => 16000L; case 2 => 22050L; case _ => 44100L
    }
    val dataLen = n * 2
    val out = new Array[Byte](44 + dataLen)
    ascii(out, 0, "RIFF"); leU32(out, 4, dataLen + 36L)
    ascii(out, 8, "WAVEfmt "); leU32(out, 16, 16)
    leU16(out, 20, 1); leU16(out, 22, 1) // PCM, mono
    leU32(out, 24, rate); leU32(out, 28, rate * 2)
    leU16(out, 32, 2); leU16(out, 34, 16) // block align, bits/sample
    ascii(out, 36, "data"); leU32(out, 40, dataLen)
    var i = 0
    while (i < n) {
      val u = ((id * 7919L + i * 104729L) % 65536L).toInt
      leU16(out, 44 + 2 * i, u)
      i += 1
    }
    out
  }
}

private[multimodal] abstract class MediaSynthExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a bigint doc id, got $other")
  }
  override def dataType: DataType = BinaryType
}

case class PngSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.png(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.png($c);")
  override protected def withNewChildInternal(newChild: Expression): PngSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_png_synth"
}

case class JpegSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.jpeg(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.jpeg($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_synth"
}

case class JpegAcSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.jpegAc(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.jpegAc($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegAcSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_ac_synth"
}

case class JpegProgressiveSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any =
    MediaSynth.jpegProgressive(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.jpegProgressive($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegProgressiveSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_progressive_synth"
}

case class JpegRestartSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any =
    MediaSynth.jpegRestart(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.jpegRestart($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegRestartSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_restart_synth"
}

case class JpegProgressiveRestartSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any =
    MediaSynth.jpegProgressiveRestart(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.jpegProgressiveRestart($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegProgressiveRestartSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_progressive_restart_synth"
}

case class JpegColorSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.jpegColor(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.jpegColor($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegColorSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_color_synth"
}

case class JpegColorProgressiveSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any =
    MediaSynth.jpegColorProgressive(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.jpegColorProgressive($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegColorProgressiveSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_color_progressive_synth"
}

/** One parameterized expression for every sampled-color row
  * ([[MediaSynth.jpegColorSampled]] baseline /
  * [[MediaSynth.jpegColorSampledProgressive]] twin, any (hs, vs), with or
  * without restart framing) — the geometry constants bake into codegen as
  * literals, so each registered variant stays a static call. `name` is
  * the SQL name the row is registered under, shown in plans and column
  * names.
  */
case class JpegSampledSynth(child: Expression, name: String, hs: Int, vs: Int, ri: Int,
    progressive: Boolean) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any =
    if (progressive)
      MediaSynth.jpegColorSampledProgressive(id.asInstanceOf[Long], hs, vs, ri)
    else MediaSynth.jpegColorSampled(id.asInstanceOf[Long], hs, vs, ri)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth." +
        (if (progressive) "jpegColorSampledProgressive" else "jpegColorSampled") +
        s"($c, $hs, $vs, $ri);")
  override protected def withNewChildInternal(newChild: Expression): JpegSampledSynth =
    copy(child = newChild)
  override def prettyName: String = name
}

case class JpegArithSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.jpegArith(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.jpegArith($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegArithSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_arith_synth"
}

case class PngDynamicSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.pngDynamic(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.pngDynamic($c);")
  override protected def withNewChildInternal(newChild: Expression): PngDynamicSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_png_dynamic_synth"
}

case class PngFixedSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.pngFixed(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.pngFixed($c);")
  override protected def withNewChildInternal(newChild: Expression): PngFixedSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_png_fixed_synth"
}

case class BmpSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.bmp(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.bmp($c);")
  override protected def withNewChildInternal(newChild: Expression): BmpSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_bmp_synth"
}

case class WavSynth(child: Expression) extends MediaSynthExpression {
  override def nullSafeEval(id: Any): Any = MediaSynth.wav(id.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.multimodal.MediaSynth.wav($c);")
  override protected def withNewChildInternal(newChild: Expression): WavSynth =
    copy(child = newChild)
  override def prettyName: String = "graft_wav_synth"
}

/** SQL names and Column handles; [[graft.functions.Natives]] registers the kernels. */
object MediaSynthFunctions {

  val pngName = "graft_png_synth"
  val pngFixedName = "graft_png_fixed_synth"
  val pngDynamicName = "graft_png_dynamic_synth"
  val jpegName = "graft_jpeg_synth"
  val jpegAcName = "graft_jpeg_ac_synth"
  val jpegProgressiveName = "graft_jpeg_progressive_synth"
  val jpegRestartName = "graft_jpeg_restart_synth"
  val jpegProgressiveRestartName = "graft_jpeg_progressive_restart_synth"
  val jpegColorName = "graft_jpeg_color_synth"
  val jpegColor420Name = "graft_jpeg_color420_synth"
  val jpegColorProgressiveName = "graft_jpeg_color_progressive_synth"
  val jpegColor420ProgressiveName = "graft_jpeg_color420_progressive_synth"
  val jpegColor420ProgressiveRestartName = "graft_jpeg_color420_progressive_restart_synth"
  val jpegArithName = "graft_jpeg_arith_synth"
  val bmpName = "graft_bmp_synth"
  val wavName = "graft_wav_synth"

  /** Registered name for one sampled-color variant (round 17): geometry
    * "422"/"440", progressive or baseline, restart or plain.
    */
  def jpegSampledName(geom: String, progressive: Boolean, ri: Int): String =
    s"graft_jpeg_color${geom}_${if (progressive) "prog" else "base"}_ri${ri}_synth"

  private[graft] val sampledVariants: Seq[(String, Int, Int)] =
    Seq(("422", 2, 1), ("440", 1, 2))

  def ensureRegistered(spark: SparkSession): Unit = graft.functions.Natives.install(spark)

  def jpegSampledSynth(geom: String, progressive: Boolean, ri: Int)(docId: Column): Column =
    call_function(jpegSampledName(geom, progressive, ri), docId)

  def jpegColor420ProgressiveRestartSynth(docId: Column): Column =
    call_function(jpegColor420ProgressiveRestartName, docId)

  def jpegArithSynth(docId: Column): Column = call_function(jpegArithName, docId)

  def jpegSynth(docId: Column): Column = call_function(jpegName, docId)

  def jpegAcSynth(docId: Column): Column = call_function(jpegAcName, docId)

  def jpegProgressiveSynth(docId: Column): Column = call_function(jpegProgressiveName, docId)

  def jpegRestartSynth(docId: Column): Column = call_function(jpegRestartName, docId)

  def jpegProgressiveRestartSynth(docId: Column): Column =
    call_function(jpegProgressiveRestartName, docId)

  def jpegColorSynth(docId: Column): Column = call_function(jpegColorName, docId)

  def jpegColor420Synth(docId: Column): Column = call_function(jpegColor420Name, docId)

  def jpegColorProgressiveSynth(docId: Column): Column =
    call_function(jpegColorProgressiveName, docId)

  def jpegColor420ProgressiveSynth(docId: Column): Column =
    call_function(jpegColor420ProgressiveName, docId)

  def pngSynth(docId: Column): Column = call_function(pngName, docId)

  def pngFixedSynth(docId: Column): Column = call_function(pngFixedName, docId)

  def pngDynamicSynth(docId: Column): Column = call_function(pngDynamicName, docId)
  def bmpSynth(docId: Column): Column = call_function(bmpName, docId)
  def wavSynth(docId: Column): Column = call_function(wavName, docId)
}
