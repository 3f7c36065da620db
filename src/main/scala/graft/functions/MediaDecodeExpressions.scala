package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native codegen kernels for the three media decode folds (PNG stored-
  * deflate pixels, 24-bit BMP pixels, PCM16 WAV samples). Each is the
  * bit-identical compiled twin of the expression-fold decoder it replaces
  * in [[graft.multimodal.Multimodal]]: the expression form documented the
  * byte-layout walk declaratively, but its `aggregate` lambda re-evaluates
  * an interpreted struct expression per payload byte — the dominant cost
  * of the whole multimodal family at bench scale (q_mm_png_pixels 3.3 s of
  * per-byte `conv(substr(hex))` at sf0.1). One compiled pass per row is the
  * plan a 100 TB decode actually wants: same zero-shuffle shape (scan →
  * byte-proportional repartition → projection), ~100× less per-byte work.
  *
  * Same native-kernel pattern as [[Winnow]] / [[VecDot]] / [[LangIdHits]]:
  * a `UnaryExpression` whose `doGenCode` emits one static call, so the
  * projection stays inside whole-stage codegen.
  *
  * Null/integrity semantics mirror the expression decoders exactly —
  * MultimodalSpec drives the corrupted-payload cases:
  *  - format gate fails (bad magic/planes/bit-depth/compression) → the
  *    geometry and all folded fields are null;
  *  - PNG: `ihdr_crc_ok` is computed independently of the gates (a header
  *    flip must fire it even though the rest still decodes), `adler_ok` is
  *    `false` when the zlib/stored framing is wrong, null when the stream
  *    was never reachable, and the trailer comparison otherwise;
  *  - a stored-block region that over-runs the payload (e.g. a corrupted
  *    width inflating the expected scanline bytes) yields null sums, as
  *    the expression fold's out-of-range reads did.
  */
object MediaDecode {

  // ---- shared little/big-endian readers over the raw payload -------------
  private def u8(p: Array[Byte], i: Int): Int = p(i) & 0xFF
  private def leU16(p: Array[Byte], i: Int): Int = u8(p, i) | (u8(p, i + 1) << 8)
  private def leU32(p: Array[Byte], i: Int): Long =
    (u8(p, i) | (u8(p, i + 1) << 8) | (u8(p, i + 2) << 16)).toLong |
      (u8(p, i + 3).toLong << 24)
  private def beU32(p: Array[Byte], i: Int): Long =
    (u8(p, i).toLong << 24) | (u8(p, i + 1) << 16) | (u8(p, i + 2) << 8) |
      u8(p, i + 3)
  private def ascii(p: Array[Byte], i: Int, s: String): Boolean = {
    if (i < 0 || i + s.length > p.length) return false
    var k = 0
    while (k < s.length) {
      if (p(i + k) != s.charAt(k).toByte) return false
      k += 1
    }
    true
  }

  // ---- PNG ---------------------------------------------------------------

  val pngType: StructType = StructType(Seq(
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("ihdr_crc_ok", BooleanType), StructField("adler_ok", BooleanType),
    StructField("sum_r", LongType), StructField("sum_g", LongType),
    StructField("sum_b", LongType), StructField("wsum_r", LongType),
    StructField("filter_violations", LongType)))

  private val pngSig =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Full stored-deflate PNG decode: signature, IHDR gate + CRC32, bounded
    * chunk walk to the first IDAT, zlib CMF/FLG + stored-block framing
    * checks, then one pass over the raw scanlines folding channel sums,
    * the position-weighted checksum, filter-byte violations, and adler32.
    */
  def png(p: Array[Byte]): InternalRow = {
    val out = new Array[Any](9)
    val sigOk = p.length >= 8 && java.util.Arrays.equals(
      java.util.Arrays.copyOf(p, 8), pngSig)
    val ihdrOk = sigOk && p.length >= 33 && beU32(p, 8) == 13 &&
      ascii(p, 12, "IHDR") &&
      u8(p, 24) == 8 && u8(p, 25) == 2 && // 8-bit truecolor
      u8(p, 26) == 0 && u8(p, 27) == 0 && u8(p, 28) == 0
    if (p.length >= 33) {
      val crc = new java.util.zip.CRC32()
      crc.update(p, 12, 17)
      out(2) = java.lang.Boolean.valueOf(beU32(p, 29) == crc.getValue)
    }
    if (!ihdrOk) return new GenericInternalRow(out)
    val w = beU32(p, 16).toInt
    val h = beU32(p, 20).toInt
    out(0) = Integer.valueOf(w)
    out(1) = Integer.valueOf(h)
    // bounded chunk walk (8 hops, as the expression walk): 0-based chunk
    // start; length field at pos, type at pos+4. A hostile declared length
    // may overflow the position — keep it in Long and stop on any escape
    // from the payload (the expression walk's out-of-range reads nulled).
    var pos = 33L
    var found = false
    var hop = 0
    while (hop < 8 && !found && pos >= 0 && pos + 8 <= p.length) {
      if (ascii(p, pos.toInt + 4, "IDAT")) found = true
      else pos += beU32(p, pos.toInt) + 12L
      hop += 1
    }
    if (!found || pos < 0 || pos + 8 > p.length)
      return new GenericInternalRow(out) // adler/sums stay null
    // hostile header dims wrap the expression version's INT cast too; any
    // non-positive geometry means the raw region is unreadable → null sums
    val rowBytes = w.toLong * 3 + 1
    val rawLen = h.toLong * rowBytes
    val z = pos.toInt + 8 // zlib CMF byte (skip IDAT length + type)
    val zlibHdrOk = z + 2 <= p.length &&
      u8(p, z) == 0x78 && (u8(p, z) * 256 + u8(p, z + 1)) % 31 == 0
    if (z + 3 <= p.length && u8(p, z + 2) == 0x01) {
      // ---- stored single-block fast path: BFINAL=1/BTYPE=00 with the whole
      // raw region in place — fold straight off the payload, zero copy.
      val zlibOk = z + 7 <= p.length && zlibHdrOk &&
        leU16(p, z + 3) == rawLen && leU16(p, z + 5) == 65535 - rawLen
      val rawOff = z + 7
      // rawLen <= 0 also catches Long overflow of h*rowBytes: the max hostile
      // product 2^31*(3*2^31+1) < 2^64, so any wrapped value is negative —
      // without this, a negative rawLen slips past both range checks below
      // and rawLen.toInt drives an out-of-bounds scanline read.
      if (w <= 0 || h <= 0 || rawLen <= 0 || rawOff + rawLen + 4 > p.length || rawLen > Int.MaxValue) {
        // region over-runs the payload: the expression fold's reads came back
        // null here — sums stay null; framing verdict still reported
        if (!zlibOk) out(3) = java.lang.Boolean.FALSE
        return new GenericInternalRow(out)
      }
      val n = rawLen.toInt
      val adler = foldScanlines(p, rawOff, n, rowBytes, w, out)
      out(3) = java.lang.Boolean.valueOf(
        zlibOk && beU32(p, rawOff + n) == adler)
      return new GenericInternalRow(out)
    }
    // ---- general inflate path: stored + fixed-Huffman (BTYPE 00/01)
    // blocks with full LZ77 back-references, bounded by the first IDAT
    // chunk's body (whose last 4 bytes are the zlib adler trailer).
    // Dynamic-Huffman (BTYPE=10) bodies remain the declared stub tier.
    val chunkLen = beU32(p, pos.toInt)
    val idatEnd = pos + 8L + chunkLen
    val streamOk = zlibHdrOk && idatEnd <= p.length && idatEnd - z >= 7
    if (!streamOk) {
      // stream unreadable: the stored path's zlibOk would have been false
      out(3) = java.lang.Boolean.FALSE
      return new GenericInternalRow(out)
    }
    // the compressed path must allocate the inflated image, so a hostile
    // header can no longer be bounded by the payload length alone — cap
    // the declared geometry (64 MiB of scanlines) before trusting it
    if (w <= 0 || h <= 0 || rawLen <= 0 || rawLen > (1L << 26))
      return new GenericInternalRow(out) // geometry unusable; sums stay null
    val n = rawLen.toInt
    val scratch = new Array[Byte](n)
    val produced = inflate(p, z + 2, (idatEnd - 4).toInt, scratch)
    if (produced != n) {
      // malformed/truncated deflate data, or it decodes to the wrong size:
      // integrity fails, sums stay null (there are no trustworthy bytes)
      out(3) = java.lang.Boolean.FALSE
      return new GenericInternalRow(out)
    }
    val adler = foldScanlines(scratch, 0, n, rowBytes, w, out)
    out(3) = java.lang.Boolean.valueOf(beU32(p, (idatEnd - 4).toInt) == adler)
    new GenericInternalRow(out)
  }

  /** One pass over `n` scanline bytes at `src[off..)`: channel sums, the
    * position-weighted checksum, filter-byte violations (into out(4..8))
    * and the running adler32, returned for the trailer comparison. Shared
    * verbatim by the zero-copy stored path and the inflate path.
    */
  private def foldScanlines(src: Array[Byte], off: Int, n: Int,
      rowBytes: Long, w: Int, out: Array[Any]): Long = {
    var sr = 0L; var sg = 0L; var sb = 0L; var wr = 0L; var viol = 0L
    var a = 1L; var b = 0L
    var i = 0
    while (i < n) {
      val v = u8(src, off + i)
      a += v; if (a >= 65521L) a -= 65521L
      b += a; if (b >= 65521L) b -= 65521L
      val j = i % rowBytes
      if (j > 0) {
        val chan = (j - 1) % 3
        if (chan == 0) {
          sr += v
          val ppos = (i / rowBytes).toLong * w + (j - 1) / 3
          wr += (ppos + 1L) * v
        } else if (chan == 1) sg += v
        else sb += v
      } else if (v != 0) viol += 1
      i += 1
    }
    out(4) = java.lang.Long.valueOf(sr)
    out(5) = java.lang.Long.valueOf(sg)
    out(6) = java.lang.Long.valueOf(sb)
    out(7) = java.lang.Long.valueOf(wr)
    out(8) = java.lang.Long.valueOf(viol)
    b * 65536L + a
  }

  // ---- RFC 1951 fixed-alphabet inflate -----------------------------------

  private val lenBase = Array(3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19,
    23, 27, 31, 35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258)
  private val lenExtra = Array(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2,
    2, 3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0)
  private val distBase = Array(1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65,
    97, 129, 193, 257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145,
    8193, 12289, 16385, 24577)
  private val distExtra = Array(0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6,
    6, 7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13)

  /** Canonical Huffman decoder over a code-length vector (RFC 1951
    * §3.2.2): per-length first-code/first-symbol-index tables, decoded bit
    * by bit MSB-of-code-first. `bad` marks an over-subscribed length
    * vector (Kraft sum > 1) — a malformed dynamic header, rejected before
    * decoding; INCOMPLETE codes are legal (the fixed distance code is one)
    * and unassigned patterns simply fail to decode (-1).
    */
  private final class Huff(lens: Array[Int]) {
    private val maxBits = 15
    private val count = new Array[Int](maxBits + 1)
    private var i0 = 0
    while (i0 < lens.length) { if (lens(i0) > 0) count(lens(i0)) += 1; i0 += 1 }
    private val sorted = new Array[Int](lens.count(_ > 0))
    private val firstCode = new Array[Int](maxBits + 1)
    private val firstIdx = new Array[Int](maxBits + 1)
    val bad: Boolean = {
      var left = 1
      var over = false
      var l = 1
      var code = 0
      var idx = 0
      while (l <= maxBits) {
        left <<= 1
        left -= count(l)
        if (left < 0) over = true
        firstCode(l) = code
        firstIdx(l) = idx
        var s = 0
        while (s < lens.length) {
          if (lens(s) == l) { sorted(idx) = s; idx += 1 }
          s += 1
        }
        code = (code + count(l)) << 1
        l += 1
      }
      over
    }
    /** Next symbol via `nextBit` (-1 on bit starvation); -1 if no code
      * matches within 15 bits.
      */
    def decode(nextBit: () => Int): Int = {
      var c = 0
      var l = 0
      while (l < maxBits) {
        val b = nextBit(); if (b < 0) return -1
        c = (c << 1) | b
        l += 1
        val d = c - firstCode(l)
        if (d >= 0 && d < count(l)) return sorted(firstIdx(l) + d)
      }
      -1
    }
  }

  // the fixed lit/len + distance codes ARE canonical codes over these
  // length vectors (that is how RFC 1951 §3.2.6 defines them)
  private lazy val fixedLit = new Huff(Array.tabulate(288)(i =>
    if (i < 144) 8 else if (i < 256) 9 else if (i < 280) 7 else 8))
  private lazy val fixedDist = new Huff(Array.fill(30)(5))

  // dynamic-header code-length symbols arrive in this fixed order (§3.2.7)
  private val clOrder = Array(16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12,
    3, 13, 2, 14, 1, 15)

  /** Inflate the deflate stream at `p[from, limit)` into `dst` — a full
    * RFC 1951 inflater: stored (BTYPE=00), fixed-Huffman (BTYPE=01) and
    * dynamic-Huffman (BTYPE=10) blocks, LZ77 length/distance
    * back-references, multi-block streams. Returns the produced byte
    * count, or -1 on ANY malformed condition (bit-starved stream, bad
    * NLEN, reserved block type, over-subscribed or unassigned code, bad
    * repeat op, missing end-of-block code, distance before the window,
    * output overflow) — the never-throw contract the hostile-header
    * property test pins. Bit packing per the RFC: fields fill bytes
    * LSB-first; Huffman codes are read MSB-of-code-first; extra-bit
    * fields are plain LSB-first integers. Per-bit decoding is fine at
    * fixture scale; the table-driven fast path (multi-bit canonical
    * lookup tables, as every production inflater builds) is the
    * documented upgrade, not a semantic change. Parity with
    * java.util.zip.Inflater is pinned in KernelPropertySpec on both
    * hand-rolled fixed streams and real Deflater output.
    */
  private[graft] def inflate(p: Array[Byte], from: Int, limit: Int,
      dst: Array[Byte]): Int = {
    var bit = from.toLong << 3
    val bitEnd = limit.toLong << 3
    var o = 0
    var fin = false
    def bits(k: Int): Int = {
      if (bit + k > bitEnd) return -1
      var v = 0
      var i = 0
      while (i < k) {
        v |= ((p((bit >> 3).toInt) >> (bit & 7L).toInt) & 1) << i
        bit += 1
        i += 1
      }
      v
    }
    val nextBit = () => bits(1)
    // decode one Huffman-coded block body with the given alphabets;
    // returns the new output cursor or -1
    def body(lit: Huff, dist: Huff, oIn: Int): Int = {
      var o2 = oIn
      while (true) {
        val sym = lit.decode(nextBit)
        if (sym < 0) return -1
        if (sym < 256) {
          if (o2 >= dst.length) return -1
          dst(o2) = sym.toByte
          o2 += 1
        } else if (sym == 256) return o2
        else {
          if (sym > 285) return -1
          val li = sym - 257
          val e = bits(lenExtra(li)); if (e < 0) return -1
          val runLen = lenBase(li) + e
          val dc = dist.decode(nextBit)
          if (dc < 0 || dc > 29) return -1
          val de = bits(distExtra(dc)); if (de < 0) return -1
          val d = distBase(dc) + de
          if (d > o2 || o2 + runLen > dst.length) return -1
          var t = 0
          while (t < runLen) {
            dst(o2) = dst(o2 - d)
            o2 += 1
            t += 1
          }
        }
      }
      -1 // unreachable
    }
    while (!fin) {
      val bf = bits(1); if (bf < 0) return -1
      val bt = bits(2); if (bt < 0) return -1
      fin = bf == 1
      if (bt == 0) { // stored: align, LEN/NLEN, copy
        bit = (bit + 7L) & ~7L
        val bp = (bit >> 3).toInt
        if (bp + 4 > limit) return -1
        val len = leU16(p, bp)
        if ((len ^ 0xFFFF) != leU16(p, bp + 2)) return -1
        if (bp + 4 + len > limit || o + len > dst.length) return -1
        System.arraycopy(p, bp + 4, dst, o, len)
        o += len
        bit = (bp + 4 + len).toLong << 3
      } else if (bt == 1) {
        o = body(fixedLit, fixedDist, o)
        if (o < 0) return -1
      } else if (bt == 2) { // dynamic: read the code-length code, then the
        // lit/len + distance length vectors (with 16/17/18 repeat ops),
        // build both canonical decoders, decode the body
        val hlit = bits(5); if (hlit < 0) return -1
        val hdist = bits(5); if (hdist < 0) return -1
        val hclen = bits(4); if (hclen < 0) return -1
        val nlit = hlit + 257
        val ndist = hdist + 1
        if (nlit > 286) return -1
        val clLens = new Array[Int](19)
        var k = 0
        while (k < hclen + 4) {
          val v = bits(3); if (v < 0) return -1
          clLens(clOrder(k)) = v
          k += 1
        }
        val cl = new Huff(clLens)
        if (cl.bad) return -1
        val lens = new Array[Int](nlit + ndist)
        var i = 0
        while (i < lens.length) {
          val s = cl.decode(nextBit)
          if (s < 0 || s > 18) return -1
          if (s < 16) { lens(i) = s; i += 1 }
          else {
            var rep = 0
            var v = 0
            if (s == 16) {
              if (i == 0) return -1
              v = lens(i - 1)
              val r = bits(2); if (r < 0) return -1
              rep = r + 3
            } else if (s == 17) {
              val r = bits(3); if (r < 0) return -1
              rep = r + 3
            } else {
              val r = bits(7); if (r < 0) return -1
              rep = r + 11
            }
            if (i + rep > lens.length) return -1
            var t = 0
            while (t < rep) { lens(i) = v; i += 1; t += 1 }
          }
        }
        if (lens(256) == 0) return -1 // a block with no end-of-block code
        val lit = new Huff(java.util.Arrays.copyOfRange(lens, 0, nlit))
        val dist = new Huff(java.util.Arrays.copyOfRange(lens, nlit, lens.length))
        if (lit.bad || dist.bad) return -1
        o = body(lit, dist, o)
        if (o < 0) return -1
      } else return -1 // BTYPE=11 reserved
    }
    o
  }

  // ---- BMP ---------------------------------------------------------------

  val bmpType: StructType = StructType(Seq(
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("sum_r", LongType), StructField("sum_g", LongType),
    StructField("sum_b", LongType), StructField("wsum_r", LongType)))

  /** Uncompressed 24-bit BMP pixel fold: header gate (BM, 1 plane, 24 bpp,
    * BI_RGB), then the format's real memory layout — bottom-up rows, BGR
    * byte order, 4-byte row stride.
    */
  def bmp(p: Array[Byte]): InternalRow = {
    val out = new Array[Any](6)
    val ok = p.length >= 34 && p(0) == 'B'.toByte && p(1) == 'M'.toByte &&
      leU16(p, 26) == 1 && leU16(p, 28) == 24 && leU32(p, 30) == 0
    if (!ok) return new GenericInternalRow(out)
    val off = leU32(p, 10).toInt
    val w = leU32(p, 18).toInt
    val h = leU32(p, 22).toInt
    out(0) = Integer.valueOf(w)
    out(1) = Integer.valueOf(h)
    // stride in Long: a hostile width wraps the Int product; any negative
    // or out-of-payload geometry → null sums (the expression fold's
    // out-of-range reads nulled, never threw)
    val stride = (w.toLong * 3 + 3) & ~3L
    if (off < 0 || w <= 0 || h <= 0 ||
      off.toLong + stride * h > p.length || stride > Int.MaxValue)
      return new GenericInternalRow(out)
    val strideI = stride.toInt // fits: guarded above
    var sr = 0L; var sg = 0L; var sb = 0L; var wr = 0L
    var y = 0
    var i = 0L // image-order pixel index (top-down), drives the weighted sum
    while (y < h) {
      var base = off + (h - 1 - y) * strideI
      var x = 0
      while (x < w) {
        val bC = u8(p, base)
        val gC = u8(p, base + 1)
        val rC = u8(p, base + 2)
        sb += bC; sg += gC; sr += rC
        wr += (i + 1L) * rC
        i += 1; x += 1; base += 3
      }
      y += 1
    }
    out(2) = java.lang.Long.valueOf(sr)
    out(3) = java.lang.Long.valueOf(sg)
    out(4) = java.lang.Long.valueOf(sb)
    out(5) = java.lang.Long.valueOf(wr)
    new GenericInternalRow(out)
  }

  // ---- WAV ---------------------------------------------------------------

  val wavType: StructType = StructType(Seq(
    StructField("channels", IntegerType), StructField("sample_rate", LongType),
    StructField("n_samples", LongType), StructField("peak", LongType),
    StructField("sum_sq", LongType), StructField("zero_crossings", LongType),
    StructField("sum_s", LongType)))

  /** PCM16 WAV sample fold: fmt-chunk gate (PCM tag, 16-bit), data-chunk
    * length from the header (never the payload size), little-endian signed
    * sample decode, and the audio features in one pass (peak, energy,
    * zero-crossing count, amplitude sum).
    */
  def wav(p: Array[Byte]): InternalRow = {
    val out = new Array[Any](7)
    val ok = p.length >= 44 && ascii(p, 0, "RIFF") && ascii(p, 8, "WAVE") &&
      ascii(p, 12, "fmt ") && leU16(p, 20) == 1 && leU16(p, 34) == 16 &&
      ascii(p, 36, "data")
    if (!ok) return new GenericInternalRow(out)
    out(0) = Integer.valueOf(leU16(p, 22))
    out(1) = java.lang.Long.valueOf(leU32(p, 24))
    val n = (leU32(p, 40) >>> 1).toInt
    if (44 + n.toLong * 2 > p.length) return new GenericInternalRow(out)
    var peak = 0L; var sumSq = 0L; var zc = 0L; var sum = 0L
    var prevNeg = false
    var i = 0
    while (i < n) {
      val v = (u8(p, 44 + 2 * i) | (p(45 + 2 * i).toInt << 8)).toLong // s16le
      val av = if (v < 0) -v else v
      if (av > peak) peak = av
      sumSq += v * v
      sum += v
      val neg = v < 0
      if (i > 0 && neg != prevNeg) zc += 1
      prevNeg = neg
      i += 1
    }
    out(2) = java.lang.Long.valueOf(n.toLong)
    out(3) = java.lang.Long.valueOf(peak)
    out(4) = java.lang.Long.valueOf(sumSq)
    out(5) = java.lang.Long.valueOf(zc)
    out(6) = java.lang.Long.valueOf(sum)
    new GenericInternalRow(out)
  }

  // ---- content embedding (the r13-verdict #5 encoder) ---------------------

  /** REAL content embedding from the decoders' own pixel/sample output —
    * replaces the md5-fingerprint stub (`stub-md5-v0`): a fingerprint is
    * hash noise (one flipped byte teleports the vector), these are the
    * classical pre-neural content descriptors, so NEAR-IDENTICAL media
    * land NEAR in the vector space and the downstream ANN/dedup operators
    * act on content, not identity.
    *
    *  - images (BMP via the uncompressed 24-bit walk; PNG via the full
    *    RFC 1951 inflater — stored/fixed/dynamic blocks alike): a 4×4
    *    spatial grid of per-cell channel means, row-major cells × (R,G,B)
    *    → 48 dims in [0,1]. Cell of pixel x: `x*4/w` (integer floor), so
    *    any w,h ≥ 4 partitions exactly;
    *  - audio (PCM16 WAV): 4 equal sample segments × (mean, rms,
    *    zero-crossing rate) → 12 dims, amplitudes normalized by 32768.
    *
    * Exactness: every value is (exact integer fold) → the SAME IEEE op
    * sequence the DuckDB oracle mirrors — (sum / count) / norm, and
    * sqrt(sumSq / count) / norm — so q_mm_features stays hash-green with
    * a REAL encoder. JPEG rides the T.81 kernels' grid folds
    * ([[JpegDecode.embed]] — full entropy decode across the ladder:
    * grayscale baseline AND progressive SOF2 with cell means duplicated
    * across the RGB slots so image embeddings share one space, plus
    * color 4:4:4 / 4:2:0 with true per-channel cell means over the
    * libjpeg-exact converted pixels). Null for undecodable payloads (bad
    * gates, filtered PNG rows, truncated streams) and for the one tier
    * without an in-engine pixel decode (color-progressive JPEG) — the
    * same honest-null routing as the decoders.
    */
  private val G = 4 // image grid — 4×4 cells × 3 channels = 48 dims

  def embed(p: Array[Byte]): Any = {
    if (p.length >= 2 && p(0) == 'B'.toByte && p(1) == 'M'.toByte) return embedBmp(p)
    if (p.length >= 8 && java.util.Arrays.equals(java.util.Arrays.copyOf(p, 8), pngSig))
      return embedPng(p)
    if (p.length >= 44 && ascii(p, 0, "RIFF")) return embedWav(p)
    if (p.length >= 3 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8) {
      // JPEG via the T.81 kernels' grid folds — grayscale baseline AND
      // progressive (SOF2) through the shared gray driver, color 4:4:4 /
      // 4:2:0 through the RGB fold over libjpeg-exact converted pixels;
      // color-progressive returns null (honest routing, as the decoders)
      val g = JpegDecode.embed(p)
      if (g == null) return null
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(g)
    }
    null
  }

  /** Grid fold shared by BMP and PNG: `px(x, y, c)` reads the decoded
    * channel byte in TOP-DOWN image order; emits the 48-dim mean vector.
    */
  private def gridMeans(w: Int, h: Int)(px: (Int, Int, Int) => Int): Any = {
    val sums = new Array[Long](G * G * 3)
    val cnts = new Array[Long](G * G)
    var y = 0
    while (y < h) {
      val cy = y * G / h
      var x = 0
      while (x < w) {
        val cell = cy * G + x * G / w
        cnts(cell) += 1
        var c = 0
        while (c < 3) { sums(cell * 3 + c) += px(x, y, c); c += 1 }
        x += 1
      }
      y += 1
    }
    val out = new Array[Double](G * G * 3)
    var i = 0
    while (i < out.length) {
      val cnt = cnts(i / 3)
      if (cnt == 0) return null // degenerate geometry (w or h < G)
      out(i) = (sums(i).toDouble / cnt) / 255.0
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private def embedBmp(p: Array[Byte]): Any = {
    val ok = p.length >= 34 && leU16(p, 26) == 1 && leU16(p, 28) == 24 &&
      leU32(p, 30) == 0
    if (!ok) return null
    val off = leU32(p, 10).toInt
    val w = leU32(p, 18).toInt
    val h = leU32(p, 22).toInt
    val stride = (w.toLong * 3 + 3) & ~3L
    if (off < 0 || w <= 0 || h <= 0 ||
      off.toLong + stride * h > p.length || stride > Int.MaxValue) return null
    val s = stride.toInt
    // bottom-up rows, B,G,R byte order → top-down (x, y, {R,G,B})
    gridMeans(w, h)((x, y, c) => u8(p, off + (h - 1 - y) * s + 3 * x + (2 - c)))
  }

  private def embedPng(p: Array[Byte]): Any = {
    val ihdrOk = p.length >= 33 && beU32(p, 8) == 13 && ascii(p, 12, "IHDR") &&
      u8(p, 24) == 8 && u8(p, 25) == 2 &&
      u8(p, 26) == 0 && u8(p, 27) == 0 && u8(p, 28) == 0
    if (!ihdrOk) return null
    val w = beU32(p, 16).toInt
    val h = beU32(p, 20).toInt
    val rowBytes = w.toLong * 3 + 1
    val rawLen = h.toLong * rowBytes
    if (w <= 0 || h <= 0 || rawLen <= 0 || rawLen > (1L << 26)) return null
    // bounded chunk walk to the first IDAT, as the stats kernel
    var pos = 33L
    var found = false
    var hop = 0
    while (hop < 8 && !found && pos >= 0 && pos + 8 <= p.length) {
      if (ascii(p, pos.toInt + 4, "IDAT")) found = true
      else pos += beU32(p, pos.toInt) + 12L
      hop += 1
    }
    if (!found || pos < 0 || pos + 8 > p.length) return null
    val z = pos.toInt + 8
    val idatEnd = pos + 8L + beU32(p, pos.toInt)
    if (z + 2 > p.length || u8(p, z) != 0x78 ||
      (u8(p, z) * 256 + u8(p, z + 1)) % 31 != 0 ||
      idatEnd > p.length || idatEnd - z < 7) return null
    val raw = new Array[Byte](rawLen.toInt)
    if (inflate(p, z + 2, (idatEnd - 4).toInt, raw) != rawLen) return null
    val rb = rowBytes.toInt
    var y = 0 // only filter-type-0 scanlines decode (all the synth tiers)
    while (y < h) { if (raw(y * rb) != 0) return null; y += 1 }
    gridMeans(w, h)((x, y2, c) => u8(raw, y2 * rb + 1 + 3 * x + c))
  }

  private def embedWav(p: Array[Byte]): Any = {
    val ok = p.length >= 44 && ascii(p, 8, "WAVE") && ascii(p, 12, "fmt ") &&
      leU16(p, 20) == 1 && leU16(p, 34) == 16 && ascii(p, 36, "data")
    if (!ok) return null
    val n = (leU32(p, 40) >>> 1).toInt
    if (n < 4 || 44 + n.toLong * 2 > p.length) return null
    val sum = new Array[Long](4)
    val sumSq = new Array[Long](4)
    val zc = new Array[Long](4)
    val cnt = new Array[Long](4)
    var prev = 0L
    var i = 0
    while (i < n) {
      val v = (u8(p, 44 + 2 * i) | (p(45 + 2 * i).toInt << 8)).toLong // s16le
      val s = i * 4 / n
      cnt(s) += 1; sum(s) += v; sumSq(s) += v * v
      // a crossing belongs to segment s only when BOTH samples are in it
      if (i > 0 && (i - 1) * 4 / n == s && (v < 0) != (prev < 0)) zc(s) += 1
      prev = v
      i += 1
    }
    val out = new Array[Double](12)
    var s = 0
    while (s < 4) {
      out(s * 3) = (sum(s).toDouble / cnt(s)) / 32768.0
      out(s * 3 + 1) = math.sqrt(sumSq(s).toDouble / cnt(s)) / 32768.0
      out(s * 3 + 2) = zc(s).toDouble / cnt(s)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

private[functions] abstract class MediaDecodeExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a binary payload, got $other")
  }
}

case class PngStats(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaDecode.pngType
  override def nullSafeEval(p: Any): Any = MediaDecode.png(p.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MediaDecode.png($c);")
  override protected def withNewChildInternal(newChild: Expression): PngStats =
    copy(child = newChild)
  override def prettyName: String = "graft_png_stats"
}

case class BmpStats(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaDecode.bmpType
  override def nullSafeEval(p: Any): Any = MediaDecode.bmp(p.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MediaDecode.bmp($c);")
  override protected def withNewChildInternal(newChild: Expression): BmpStats =
    copy(child = newChild)
  override def prettyName: String = "graft_bmp_stats"
}

case class MediaEmbedding(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(p: Any): Any = MediaDecode.embed(p.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)
        graft.functions.MediaDecode.embed($c);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(newChild: Expression): MediaEmbedding =
    copy(child = newChild)
  override def prettyName: String = "graft_media_embed"
}

case class WavStats(child: Expression) extends MediaDecodeExpression {
  override def dataType: DataType = MediaDecode.wavType
  override def nullSafeEval(p: Any): Any = MediaDecode.wav(p.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MediaDecode.wav($c);")
  override protected def withNewChildInternal(newChild: Expression): WavStats =
    copy(child = newChild)
  override def prettyName: String = "graft_wav_stats"
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object MediaDecodeFunctions {

  val pngName = "graft_png_stats"
  val bmpName = "graft_bmp_stats"
  val wavName = "graft_wav_stats"
  val embedName = "graft_media_embed"

  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)

  def pngStats(payload: Column): Column = call_function(pngName, payload)
  def bmpStats(payload: Column): Column = call_function(bmpName, payload)
  def wavStats(payload: Column): Column = call_function(wavName, payload)
  def mediaEmbedding(payload: Column): Column = call_function(embedName, payload)
}
