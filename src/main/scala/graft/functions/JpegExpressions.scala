package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** JPEG (ITU T.81) decode kernels: grayscale and YCbCr colour, baseline
  * (SOF0) and progressive (SOF2), with restart intervals, behind one
  * decode driver ([[JpegDecode]] `decode`) whose stages run the same way
  * for every tier, so a fix lands once:
  *
  *  - HEADER: one segment walk with length-checked reads parses DQT,
  *    SOF0/SOF2, DHT, DRI and SOS into one frame description. The SOF must
  *    fit the tier's envelope: 8-bit samples and one 1×1 component (gray)
  *    or three components whose Y factors are in {1,2}² and chroma 1×1
  *    (colour: 4:4:4, 4:2:0, 4:2:2, 4:4:0); any other frame nulls the row.
  *    Huffman tables are canonical (T.81 Annex C, BITS[1..16] + HUFFVAL
  *    from the file's own DHT); the progressive engine reruns the same walk
  *    between scans, where DHT/DQT/DRI redefinition is legal and honored.
  *  - BASELINE SCAN: one MCU walk over the component list — gray is the
  *    one-component, 1×1 case — with MSB-first bit reads and 0xFF00
  *    de-stuffing, one DC+AC block decoder (DC category + signed-magnitude
  *    extension with per-component prediction, AC run-length decoding with
  *    EOB and ZRL, dequant) and one restart block.
  *  - PROGRESSIVE SCANS (round 15 gray, round 16 colour): the multi-scan
  *    spectral-selection + successive-approximation machinery real web
  *    JPEGs are mostly encoded with (T.81 Annex G): per-component raw
  *    coefficient planes accumulated across scans — DC-first scans with
  *    the Al point transform, DC-refinement scans (one raw bit per block),
  *    AC-first scans with EOB-run decoding (EOBn symbols + extra bits), and
  *    AC-refinement scans running the G.1.2.3 correction-bit algorithm
  *    (newly-nonzero insertion at a zero-history position, inline
  *    correction bits for already-nonzero coefficients, EOB-run carried
  *    correction bits). Interleaved DC scans walk MCUs over the padded
  *    grids; non-interleaved scans walk the owning component's real
  *    blocks. DNL stays outside the envelope (nulls honestly, as
  *    arithmetic coding does).
  *  - RESTART INTERVALS (DRI, round 15) on every Huffman tier: at each
  *    interval boundary the stream byte-aligns, the RSTm index is verified
  *    strictly (cycling 0..7, per scan in progressive — T.81 E.1.4), DC
  *    predictors reset, and a progressive EOB run may not cross the
  *    boundary. Real web JPEGs carry DRI routinely.
  *  - PIXEL ASSEMBLY: baseline and progressive both hand finished MCUs of
  *    dequantized blocks to the same consumer. Gray streams blocks to a
  *    per-block sink (the stats fold behind `graft_jpeg_stats`, the 4×4
  *    grid-mean fold behind the content embedding); 4:4:4 streams pixels
  *    per MCU; subsampled geometries fill sample planes, then run one
  *    chroma-upsampling fold that takes the Y factors as input and keeps
  *    libjpeg's per-geometry rounding. One YCbCr→RGB conversion serves
  *    every colour tier.
  *
  * The spec's honest corner: T.81 does NOT mandate a bit-exact IDCT, so
  * decoders may disagree by ±1 on blocks with general AC energy. The
  * oracle-checked fixture tables therefore plant DC-only blocks (flat
  * patches exact in every conforming decoder) or single AC coefficients
  * at zig-zag index 10, whose basis function is ±1/8-integer-exact (see
  * [[graft.multimodal.MediaSynth.jpegAc]]) — which is what lets the
  * DuckDB oracle recompute sums from planted formulas and
  * MultimodalSpec pin ImageIO parity byte-for-byte, for the progressive
  * tier too. Blocks with arbitrary AC still decode; they are simply not
  * what the oracle exercises.
  *
  * Null/integrity semantics follow the PNG kernel: junk or truncated
  * payloads return all-null fields, a malformed entropy stream nulls the
  * sums, and nothing ever throws on hostile input.
  */
object JpegDecode {

  val outType: StructType = StructType(Seq(
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("n_blocks", LongType),
    StructField("sum_luma", LongType), StructField("wsum_luma", LongType),
    StructField("n_ac_coeffs", LongType)))

  private def u8(p: Array[Byte], i: Int): Int = p(i) & 0xFF
  private def beU16(p: Array[Byte], i: Int): Int = (u8(p, i) << 8) | u8(p, i + 1)

  /** Canonical JPEG Huffman table (T.81 Annex C): decode one symbol via
    * per-length min-code/max-code/value-pointer arrays, MSB-first.
    */
  private final class JHuff(bits: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17) // -1 = no codes at this length
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l) == 0) maxCode(l) = -1
        else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l)
          k += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    /** -1 on no match within 16 bits or bit starvation. */
    def decode(r: BitReader): Int = {
      var code = 0
      var l = 1
      while (l <= 16) {
        val b = r.bit()
        if (b < 0) return -1
        code = (code << 1) | b
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l)) {
          val idx = valPtr(l) + (code - minCode(l))
          if (idx >= vals.length) return -1
          return vals(idx)
        }
        l += 1
      }
      -1
    }
  }

  /** MSB-first bit reader over the entropy-coded segment with 0xFF00
    * de-stuffing; stops (-1) at any marker or the segment end.
    */
  private final class BitReader(p: Array[Byte], var pos: Int, limit: Int) {
    private var cur = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        if (pos >= limit) return -1
        var b = u8(p, pos)
        pos += 1
        if (b == 0xFF) {
          if (pos >= limit) return -1
          val m = u8(p, pos)
          if (m == 0x00) pos += 1 // stuffed data byte
          else return -1 // a real marker: entropy data ended early
          b = 0xFF
        }
        cur = b
        nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    /** `n`-bit MSB-first field; -1 on starvation (n ≤ 16). */
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val b = bit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }
    /** Consume an RSTm marker at a restart boundary (T.81 E.1.4): the
      * partial byte's remaining pad bits drop (byte alignment), then the
      * EXPECTED marker index is verified strictly — a skipped or
      * misnumbered restart is a corrupt stream, not a recoverable one,
      * in a batch decoder (resync is a streaming-display concern).
      */
    def restart(m: Int): Boolean = {
      nbits = 0
      cur = 0
      if (pos + 1 >= limit) return false
      if (u8(p, pos) != 0xFF || u8(p, pos + 1) != 0xD0 + m) return false
      pos += 2
      true
    }
  }

  /** Signed-magnitude EXTEND (T.81 F.2.2.1): an s-bit magnitude v decodes
    * to v if the top bit is set, else v - (2^s - 1).
    */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v >= (1 << (s - 1))) v else v - (1 << s) + 1

  // -------------------------------------- frame description and header walk

  /** One frame component: id, sampling factors and quantizer id from the
    * SOF; the baseline scan's table selectors; the per-scan DC predictor;
    * and the REAL (non-interleaved) and PADDED (interleaved, MCU-multiple)
    * block geometry. T.81 A.2.4: non-interleaved scans code exactly the
    * component's real blocks; interleaved scans cover the padded grid. The
    * progressive path accumulates raw coefficients in `coefs` over the
    * padded grid, so both walks write one layout and emission reads it.
    */
  private final class Comp(val id: Int, val hs: Int, val vs: Int, val tq: Int) {
    var dcSel = 0
    var acSel = 0
    var pred = 0
    var bwReal = 0
    var bhReal = 0
    var bwPad = 0
    var bhPad = 0
    var coefs: Array[Short] = null
    /** Quant table LATCHED at this component's first scan (advice r16 #2):
      * libjpeg's jdinput.c latch_quant_tables binds each component's
      * dequant table once, when the first scan containing it starts — so
      * a stream that redefines a DQT between scans dequantizes earlier
      * components with the OLD values. Emission reads this reference
      * (DQT redefinition installs a fresh array, leaving it intact);
      * null only if the component never appeared in any scan, where the
      * plane is all zeros and the table is irrelevant.
      */
    var latchedQt: Array[Int] = null
  }

  /** What the segment walk learns: the SOF geometry and components, and
    * the DQT/DHT tables and DRI interval as defined RIGHT NOW. `nf` is the
    * tier's component count, 1 (gray) or 3 (colour). Only Y carries
    * sampling factors above 1, so its factors set the MCU grid.
    */
  private final class Frame(val nf: Int) {
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JHuff](4)
    val acTabs = new Array[JHuff](4)
    var ri = 0 // DRI restart interval (0 = none)
    var progressive = false
    var w = -1
    var h = -1
    var comps: Array[Comp] = null
    var mcuW = 0
    var mcuH = 0
    def hs: Int = comps(0).hs
    def vs: Int = comps(0).vs
    /** Data units per MCU: hs×vs for Y, one per chroma component. */
    def nUnits: Int = hs * vs + nf - 1

    /** Fix the MCU grid and every component's real and padded block grid:
      * real blocks cover the component's own (per-axis ceil-subsampled)
      * dims; padded grids are MCU multiples, which differ from real when w
      * or h is not an MCU multiple — the interleaved DC scan codes pad
      * blocks, AC scans skip them, and no fold reads their
      * out-of-geometry pixels.
      */
    def layout(): Unit = {
      // every factor is 1 or 2, so each division is a shift
      mcuW = (w + 8 * hs - 1) >> (2 + hs)
      mcuH = (h + 8 * vs - 1) >> (2 + vs)
      comps.foreach { c =>
        c.bwReal = (((w * c.hs + hs - 1) >> (hs - 1)) + 7) >> 3
        c.bhReal = (((h * c.vs + vs - 1) >> (vs - 1)) + 7) >> 3
        c.bwPad = mcuW * c.hs
        c.bhPad = mcuH * c.vs
      }
    }
  }

  private final val SegEoi = -1 // the walk reached EOI
  private final val SegBad = -2 // malformed or truncated segment structure

  /** The one segment walk: from `start`, parses DQT, DHT and DRI into `f`
    * — and, when `header`, SOF0/SOF2 against the tier's envelope — and
    * skips APPn/COM/others up to the next SOS, whose position it returns;
    * else [[SegEoi]] or [[SegBad]]. Between progressive scans (`header`
    * false) a SOF is skipped like any other segment. Bounded by position
    * progress alone: every iteration advances pos by 2+len with len >= 2
    * enforced, so the walk is O(p.length) and an APPn/COM-heavy file
    * (EXIF/XMP) with any number of metadata segments still reaches its SOS
    * (a fixed hop cap silently nulled such files out).
    */
  private def walkSegments(p: Array[Byte], start: Int, f: Frame, header: Boolean): Int = {
    var pos = start
    while (pos + 2 <= p.length) {
      if (u8(p, pos) != 0xFF) return SegBad
      val marker = u8(p, pos + 1)
      if (marker == 0xD9) return SegEoi
      if (pos + 4 > p.length) return SegBad
      val len = beU16(p, pos + 2)
      if (len < 2 || pos + 2 + len > p.length) return SegBad
      val body = pos + 4
      val end = pos + 2 + len
      marker match {
        case 0xDA => return pos // SOS: entropy data follows its header
        case 0xDB => parseDqt(p, body, end, f.quant)
        case 0xC4 => if (!parseDht(p, body, end, f.dcTabs, f.acTabs)) return SegBad
        case 0xDD => if (len >= 4) f.ri = beU16(p, body)
        case 0xC0 | 0xC2 if header =>
          if (!parseSof(p, body, len, marker == 0xC2, f)) return SegBad
        case _ => () // APPn / COM / others: skip
      }
      pos = end
    }
    SegBad
  }

  /** SOF0 (baseline) / SOF2 (progressive) within the tier's envelope:
    * 8-bit samples, exactly `f.nf` components, every sampling factor 1×1
    * except the colour Y factors, which may be 1 or 2 per axis — the full
    * two-factor envelope round 17 generalized the MCU walks to.
    */
  private def parseSof(p: Array[Byte], body: Int, len: Int, progressive: Boolean,
      f: Frame): Boolean = {
    val nf = f.nf
    if (len < 8 + 3 * nf || u8(p, body) != 8 || u8(p, body + 5) != nf) return false
    val comps = new Array[Comp](nf)
    var c = 0
    while (c < nf) {
      val at = body + 6 + 3 * c
      val hs = u8(p, at + 1) >> 4
      val vs = u8(p, at + 1) & 0x0F
      val maxF = if (c == 0 && nf == 3) 2 else 1
      if (hs < 1 || hs > maxF || vs < 1 || vs > maxF) return false
      comps(c) = new Comp(u8(p, at), hs, vs, u8(p, at + 2))
      c += 1
    }
    f.progressive = progressive
    f.h = beU16(p, body + 1)
    f.w = beU16(p, body + 3)
    f.comps = comps
    true
  }

  /** Parse one DQT segment body: possibly several 8-bit tables, each
    * installed as a fresh array.
    */
  private def parseDqt(p: Array[Byte], body: Int, end: Int, quant: Array[Array[Int]]): Unit = {
    var q = body
    while (q + 65 <= end) {
      val pq = u8(p, q) >> 4
      val tq = u8(p, q) & 0x0F
      if (pq == 0 && tq < 4)
        quant(tq) = Array.tabulate(64)(i => u8(p, q + 1 + i))
      q += 65
    }
  }

  // ------------------------------------------------------ the decode driver

  /** Decode outcome: a null Out = header failure (nothing reportable),
    * ok=false = valid header but malformed entropy stream (geometry
    * reportable, sums not). The allocate-before-validate plausibility
    * guards (header-declared dims demanding more plane mass than the
    * payload could code) are the SAME contract on every tier, gray and
    * colour alike: the header DID parse, so geometry reports and sums null
    * — ok=false, never a whole-row null (advice r16 #3 closed the
    * gray-progressive asymmetry).
    */
  private final class Out(val w: Int, val h: Int, val nMcus: Long, val ok: Boolean,
    val nAc: Long)

  /** The one decode driver behind every tier (`nf` = 1 gray, 3 colour):
    * the header walk to the first SOS, the dimension caps and plausibility
    * guards, then the SOF0 single-scan baseline walk or the SOF2 multi-scan
    * progressive engine plus its plane emission — both streaming finished
    * MCUs to the sink `mk` builds for the frame.
    */
  private def decode(p: Array[Byte], nf: Int, mk: Frame => McuSink): Out = {
    if (p.length < 4 || u8(p, 0) != 0xFF || u8(p, 1) != 0xD8) return null
    val f = new Frame(nf)
    val sosAt = walkSegments(p, 2, f, header = true)
    if (sosAt < 0 || f.comps == null) return null
    val w = f.w
    val h = f.h
    // the subsampled path buffers full sample planes (fancy upsampling
    // needs cross-MCU chroma neighbors) and the progressive path whole-
    // image coefficient planes, so their dimension caps are tighter:
    // ≤ 100 MB / ≤ 200 MB at 8192² — the same order as the BufferedImage
    // any real decoder materializes for such an image
    val cap = if (f.progressive || f.hs * f.vs > 1) 1 << 13 else 1 << 14
    if (w <= 0 || h <= 0 || w > cap || h > cap ||
      f.comps.exists(c => c.tq > 3 || f.quant(c.tq) == null))
      return null
    // the first scan must cover every component — except a colour
    // progressive one, which may be interleaved DC or single-component
    // (the progressive engine parses and validates every scan header)
    val sosLen = beU16(p, sosAt + 2)
    if ((!f.progressive || nf == 1) &&
      (sosLen != 6 + 2 * nf || u8(p, sosAt + 4) != nf))
      return null
    f.layout()
    val nMcus = f.mcuW.toLong * f.mcuH
    if (!f.progressive) {
      // bind each scan component to its tables: colour binds by component
      // id; a one-component frame binds its single scan component without
      // comparing ids
      var i = 0
      while (i < nf) {
        val tt = u8(p, sosAt + 6 + 2 * i)
        val cid = u8(p, sosAt + 5 + 2 * i)
        val c = if (nf == 1) f.comps(0) else f.comps.find(_.id == cid).orNull
        if (c == null || (tt >> 4) > 3 || (tt & 0x0F) > 3) return null
        c.dcSel = tt >> 4
        c.acSel = tt & 0x0F
        i += 1
      }
      if (f.comps.exists(c => f.dcTabs(c.dcSel) == null || f.acTabs(c.acSel) == null))
        return null
      val scanStart = sosAt + 2 + sosLen
      // allocate-before-validate for the sample planes: a subsampled MCU
      // holds 4-6 data units (>= 4 Huffman codes, over a byte), so a
      // genuine file carries at least one byte per MCU
      if (scanStart >= p.length || (f.hs * f.vs > 1 && nMcus > p.length))
        return new Out(w, h, nMcus, false, 0L)
      val sink = mk(f)
      val nAc = baselineScan(new BitReader(p, scanStart, p.length), f, sink)
      if (nAc < 0) return new Out(w, h, nMcus, false, 0L)
      sink.finish()
      new Out(w, h, nMcus, true, nAc)
    } else {
      // RAW (pre-dequant) coefficients accumulate across scans; successive-
      // approximation bit fiddling (| 1<<Al, ±p1 corrections) operates on
      // raw values, dequant happens once at emission. Short suffices: 8-bit
      // baseline coefficients are ≤ 11 bits + sign, and the point transform
      // only restores bits below that. Plane memory at the 8192² cap is
      // (8192/8)² = 1024² blocks × 64 × 2 B = 134 MB per full-resolution
      // component (any real progressive decoder materializes whole-image
      // coefficient memory; that is the format's nature, not this
      // implementation's).
      // Allocate-before-validate guard: the planes are sized from HEADER
      // fields alone, so a hostile payload declaring 8192×8192 would zero
      // them before any entropy check. A DC scan spends ≥ 1 bit per data
      // unit of every component, and entropy data lives AFTER the first
      // SOS — so the bound is the remaining ENTROPY bytes, not the total
      // file length (a header-only payload padded with metadata cannot
      // vouch for plane mass; advice r15).
      val nBlocks = f.nUnits * nMcus // every component's padded blocks
      if (nBlocks > 8L * (p.length - sosAt))
        return new Out(w, h, nMcus, false, 0L)
      f.comps.foreach(c => c.coefs = new Array[Short](c.bwPad * c.bhPad * 64))
      runProgressiveScans(p, sosAt, f) match {
        case ScanNoScan => null
        case ScanCorrupt => new Out(w, h, nMcus, false, 0L)
        case _ =>
          val sink = mk(f)
          val nAc = emitPlanes(f, sink)
          sink.finish()
          new Out(w, h, nMcus, true, nAc)
      }
    }
  }

  /** One zig-zag block buffer per data unit of an MCU, in frame component
    * order (T.81 A.2.3: each component's hs×vs units left-to-right,
    * top-to-bottom).
    */
  private def mcuUnits(f: Frame): Array[Array[Int]] = {
    val units = new Array[Array[Int]](f.nUnits)
    var u = 0
    while (u < units.length) { units(u) = new Array[Int](64); u += 1 }
    units
  }

  /** The baseline (SOF0) single-scan MCU walk: each MCU codes every
    * component's data units in frame order with per-COMPONENT DC
    * predictors (so all Y units of a subsampled MCU chain through one
    * predictor), and streams to `sink` as soon as it is complete — no
    * coefficient plane. Returns the coded AC coefficient count, or -1 on a
    * malformed stream.
    */
  private def baselineScan(r: BitReader, f: Frame, sink: McuSink): Long = {
    val comps = f.comps
    val units = mcuUnits(f)
    val hasAc = new Array[Boolean](units.length)
    val ri = f.ri
    var nAc = 0L
    var mcu = 0
    var my = 0
    while (my < f.mcuH) {
      var mx = 0
      while (mx < f.mcuW) {
        if (ri > 0 && mcu > 0 && mcu % ri == 0) {
          // restart boundary: byte-align + strict RSTm check, EVERY
          // component's DC predictor resets (T.81 E.1.4 / F.2.1.3.1)
          if (!r.restart((mcu / ri - 1) % 8)) return -1
          comps.foreach(_.pred = 0)
        }
        var u = 0
        var ci = 0
        while (ci < comps.length) {
          val c = comps(ci)
          val qt = f.quant(c.tq)
          val dcT = f.dcTabs(c.dcSel)
          val acT = f.acTabs(c.acSel)
          val uEnd = u + c.hs * c.vs
          while (u < uEnd) {
            val n = decodeBlock(r, c, qt, dcT, acT, units(u))
            if (n < 0) return -1
            nAc += n
            val cz = units(u)
            var has = false
            var i = 1
            while (i < 64 && !has) { has = cz(i) != 0; i += 1 }
            hasAc(u) = has
            u += 1
          }
          ci += 1
        }
        sink.mcu(mx, my, units, hasAc)
        mcu += 1
        mx += 1
      }
      my += 1
    }
    nAc
  }

  /** One baseline data unit into the zig-zag-ordered `coef`, dequantized:
    * the DC category + extended difference predicted from the component's
    * last block, then AC run/size pairs until EOB or 63 coefficients.
    * Returns the number of coded AC coefficients, or -1.
    */
  private def decodeBlock(r: BitReader, c: Comp, qt: Array[Int], dcT: JHuff, acT: JHuff,
      coef: Array[Int]): Int = {
    java.util.Arrays.fill(coef, 0)
    val t = dcT.decode(r)
    if (t < 0 || t > 11) return -1
    val diffBits = if (t == 0) 0 else r.bits(t)
    if (diffBits < 0) return -1
    c.pred += extend(diffBits, t)
    coef(0) = c.pred * qt(0)
    var n = 0
    var k = 1
    while (k < 64) {
      val rs = acT.decode(r)
      if (rs < 0) return -1
      if (rs == 0x00) return n // EOB
      if (rs == 0xF0) k += 16 // ZRL
      else {
        val size = rs & 0x0F
        k += rs >> 4
        if (k > 63) return -1
        val m = r.bits(size)
        if (m < 0) return -1
        coef(k) = extend(m, size) * qt(k)
        n += 1
        k += 1
      }
    }
    n
  }

  /** Progressive emission: one walk over the MCU grid, dequantizing each
    * component's padded blocks with its first-scan latched table (not the
    * stream's last DQT; libjpeg parity, advice r16 #2) and streaming
    * finished MCUs to `sink` exactly as the baseline walk does. The count
    * returned is the nonzero AC entries of the finished planes — the
    * progressive analogue of the baseline's per-scan count (every planted
    * coefficient ends nonzero, so the fixtures agree across tiers).
    */
  private def emitPlanes(f: Frame, sink: McuSink): Long = {
    val comps = f.comps
    val units = mcuUnits(f)
    val hasAc = new Array[Boolean](units.length)
    var nAc = 0L
    var my = 0
    while (my < f.mcuH) {
      var mx = 0
      while (mx < f.mcuW) {
        var u = 0
        var ci = 0
        while (ci < comps.length) {
          val c = comps(ci)
          val qt = if (c.latchedQt != null) c.latchedQt else f.quant(c.tq)
          var v = 0
          while (v < c.vs) {
            var hh = 0
            while (hh < c.hs) {
              val base = ((my * c.vs + v) * c.bwPad + mx * c.hs + hh) * 64
              val n = dequant(c.coefs, base, qt, units(u))
              nAc += n
              hasAc(u) = n > 0
              u += 1
              hh += 1
            }
            v += 1
          }
          ci += 1
        }
        sink.mcu(mx, my, units, hasAc)
        mx += 1
      }
      my += 1
    }
    nAc
  }

  /** Dequantize the raw plane block at `base` into `coef`; returns the
    * block's nonzero AC count.
    */
  private def dequant(coefs: Array[Short], base: Int, qt: Array[Int], coef: Array[Int]): Int = {
    var n = 0
    var k = 0
    while (k < 64) {
      val raw = coefs(base + k).toInt
      coef(k) = raw * qt(k)
      if (k > 0 && raw != 0) n += 1
      k += 1
    }
    n
  }

  // ----------------------- progressive scans (T.81 Annex G, multi-component)

  /** Per-scan entropy state shared by the AC block coders. */
  private final class ScanCtx { var eobrun = 0 }

  // runProgressiveScans outcome: distinguishes "first scan header never
  // parsed" (a header failure — the whole row nulls, like a missing SOS)
  // from "a scan's entropy stream is malformed" (geometry reportable,
  // sums nulled).
  private final val ScanOk = 0
  private final val ScanCorrupt = 1
  private final val ScanNoScan = 2

  /** DC-first coding (G.1.2.1) for one block. The accumulated predictor is
    * range-checked against the Short plane BEFORE the Al shift: a hostile
    * stream can walk `pred` past the 12-bit coefficient envelope and a
    * silent Short overflow would turn honest-null into wrong-sums
    * (advice r15).
    */
  private def dcFirstBlock(r: BitReader, c: Comp, base: Int, dcT: JHuff,
      al: Int): Boolean = {
    val t = dcT.decode(r)
    if (t < 0 || t > 11) return false
    val diffBits = if (t == 0) 0 else r.bits(t)
    if (diffBits < 0) return false
    c.pred += extend(diffBits, t)
    val v = c.pred << al
    if (v < Short.MinValue || v > Short.MaxValue) return false
    c.coefs(base) = v.toShort
    true
  }

  /** DC refinement (G.1.2.1, Ah > 0): one raw bit, appended at Al. */
  private def dcRefineBlock(r: BitReader, c: Comp, base: Int, p1: Int): Boolean = {
    val bit = r.bit()
    if (bit < 0) return false
    if (bit == 1) c.coefs(base) = (c.coefs(base) | p1).toShort
    true
  }

  /** AC first pass (G.1.2.2) for one block: run/size pairs with EOB-run
    * coding; the run state lives in `ctx` because an EOB run spans blocks.
    */
  private def acFirstBlock(r: BitReader, c: Comp, base: Int, ss: Int, se: Int,
      al: Int, acT: JHuff, ctx: ScanCtx): Boolean = {
    if (ctx.eobrun > 0) { ctx.eobrun -= 1; return true }
    var k = ss
    var done = false
    while (!done && k <= se) {
      val rs = acT.decode(r)
      if (rs < 0) return false
      val run = rs >> 4
      val size = rs & 0x0F
      if (size != 0) {
        k += run
        if (k > se) return false
        val m = r.bits(size)
        if (m < 0) return false
        c.coefs(base + k) = (extend(m, size) << al).toShort
        k += 1
      } else if (run == 15) k += 16 // ZRL
      else {
        ctx.eobrun = 1 << run
        if (run > 0) {
          val eb = r.bits(run)
          if (eb < 0) return false
          ctx.eobrun += eb
        }
        ctx.eobrun -= 1 // this block is the first of the run
        done = true
      }
    }
    true
  }

  /** AC refinement (G.1.2.3) for one block: newly-nonzero coefficients
    * arrive with a sign bit at a zero-history position; every
    * already-nonzero coefficient passed over reads one inline correction
    * bit; blocks inside an EOB run still carry correction bits.
    */
  private def acRefineBlock(r: BitReader, c: Comp, base: Int, ss: Int, se: Int,
      al: Int, acT: JHuff, ctx: ScanCtx): Boolean = {
    val p1 = 1 << al
    val m1 = -(1 << al)
    val coefs = c.coefs
    var k = ss
    if (ctx.eobrun == 0) {
      var brk = false
      while (!brk && k <= se) {
        val rs = acT.decode(r)
        if (rs < 0) return false
        var run = rs >> 4
        val size = rs & 0x0F
        var sval = 0
        if (size != 0) {
          if (size != 1) return false // refinement sizes are always 1
          val sb = r.bit()
          if (sb < 0) return false
          sval = if (sb == 1) p1 else m1
        } else if (run != 15) {
          ctx.eobrun = 1 << run
          if (run > 0) {
            val eb = r.bits(run)
            if (eb < 0) return false
            ctx.eobrun += eb
          }
          brk = true
        }
        // run == 15 with size 0 is ZRL: skip SIXTEEN zero-history slots,
        // correcting nonzero ones along the way (run counts only
        // zero-history positions — the loop stops AT the 16th/insertion
        // slot, which is then consumed by the store or, for ZRL, by the
        // bare advance: libjpeg's outer k++ in decode_mcu_AC_refine;
        // stopping short desynchronized every later symbol — review-found)
        if (!brk) {
          var advancing = true
          while (advancing && k <= se) {
            val at = base + k
            if (coefs(at) != 0) {
              val cb = r.bit()
              if (cb < 0) return false
              if (cb == 1 && (coefs(at) & p1) == 0)
                coefs(at) = (coefs(at) + (if (coefs(at) >= 0) p1 else m1)).toShort
              k += 1
            } else if (run == 0) advancing = false // the stop slot
            else { run -= 1; k += 1 }
          }
          if (sval != 0) {
            if (!advancing && k <= se) { coefs(base + k) = sval.toShort; k += 1 }
            else return false // ran past Se hunting the slot
          } else if (!advancing) k += 1 // ZRL: consume the 16th slot
        }
      }
    }
    if (ctx.eobrun > 0) {
      // blocks inside an EOB run still carry correction bits for their
      // already-nonzero coefficients in the band
      while (k <= se) {
        val at = base + k
        if (coefs(at) != 0) {
          val cb = r.bit()
          if (cb < 0) return false
          if (cb == 1 && (coefs(at) & p1) == 0)
            coefs(at) = (coefs(at) + (if (coefs(at) >= 0) p1 else m1)).toShort
        }
        k += 1
      }
      ctx.eobrun -= 1
    }
    true
  }

  /** One progressive scan's entropy body. Interleaved scans (Ns > 1 —
    * DC-only per T.81 B.2.3, validated by the caller) walk MCUs over the
    * PADDED grids with data units in A.2.3 order and per-component DC
    * predictors; non-interleaved scans (Ns = 1) walk the component's REAL
    * blocks in raster order. Restart intervals count MCUs respectively
    * data units (T.81 E.1.4), the marker index cycles from 0 per scan, an
    * EOB run may not cross a boundary, and predictors reset.
    */
  private def decodeScanBody(r: BitReader, sc: Array[Comp], std: Array[JHuff],
      sta: Array[JHuff], ns: Int, ss: Int, se: Int, ah: Int, al: Int,
      ri: Int, mcuW: Int, mcuH: Int): Boolean = {
    val ctx = new ScanCtx
    var i = 0
    while (i < ns) { sc(i).pred = 0; i += 1 }
    if (ns > 1) {
      val nMcus = mcuW * mcuH
      var mcu = 0
      while (mcu < nMcus) {
        if (ri > 0 && mcu > 0 && mcu % ri == 0) {
          if (!r.restart((mcu / ri - 1) % 8)) return false
          var j = 0
          while (j < ns) { sc(j).pred = 0; j += 1 }
        }
        val mx = mcu % mcuW
        val my = mcu / mcuW
        var ci = 0
        while (ci < ns) {
          val c = sc(ci)
          var v = 0
          while (v < c.vs) {
            var hh = 0
            while (hh < c.hs) {
              val base = ((my * c.vs + v) * c.bwPad + mx * c.hs + hh) * 64
              val good =
                if (ah == 0) dcFirstBlock(r, c, base, std(ci), al)
                else dcRefineBlock(r, c, base, 1 << al)
              if (!good) return false
              hh += 1
            }
            v += 1
          }
          ci += 1
        }
        mcu += 1
      }
    } else {
      val c = sc(0)
      val n = c.bwReal * c.bhReal
      var b = 0
      while (b < n) {
        if (ri > 0 && b > 0 && b % ri == 0) {
          if (ctx.eobrun != 0) return false // a run may not cross a restart
          if (!r.restart((b / ri - 1) % 8)) return false
          c.pred = 0
        }
        val base = ((b / c.bwReal) * c.bwPad + b % c.bwReal) * 64
        val good =
          if (ss == 0) {
            if (ah == 0) dcFirstBlock(r, c, base, std(0), al)
            else dcRefineBlock(r, c, base, 1 << al)
          } else if (ah == 0) acFirstBlock(r, c, base, ss, se, al, sta(0), ctx)
          else acRefineBlock(r, c, base, ss, se, al, sta(0), ctx)
        if (!good) return false
        b += 1
      }
    }
    true
  }

  /** Multi-scan progressive (SOF2) engine shared by the grayscale and the
    * colour tiers (round 16 — one copy of the Annex G machinery): walks
    * scans from the first SOS to EOI, decoding each into the components'
    * raw coefficient planes and honoring DHT/DQT/DRI redefinition between
    * scans. Scan headers bind components by id and tables per component;
    * interleaved scans must be DC-only (T.81 B.2.3), AC scans
    * single-component with a valid band; Al ≤ 13. The driver dequantizes
    * and emits ([[emitPlanes]]) AFTER this returns [[ScanOk]].
    */
  private def runProgressiveScans(p: Array[Byte], firstSos: Int, f: Frame): Int = {
    val comps = f.comps
    var scanPos = firstSos
    var sawScan = false
    var ok = true
    var finished = false
    while (ok && !finished) {
      val sl = beU16(p, scanPos + 2)
      val sb = scanPos + 4
      val ns = if (sb < p.length) u8(p, sb) else -1
      if (ns < 1 || ns > comps.length || sl != 6 + 2 * ns ||
        scanPos + 2 + sl > p.length) ok = false
      else {
        // bind the scan's components + tables (DHTs as defined RIGHT NOW —
        // redefinition between scans is legal and honored)
        val sc = new Array[Comp](ns)
        val std = new Array[JHuff](ns)
        val sta = new Array[JHuff](ns)
        var bindOk = true
        var i = 0
        while (bindOk && i < ns) {
          val cid = u8(p, sb + 1 + 2 * i)
          val tt = u8(p, sb + 2 + 2 * i)
          val idx = comps.indexWhere(_.id == cid)
          if (idx < 0 || (tt >> 4) > 3 || (tt & 0x0F) > 3) bindOk = false
          else {
            sc(i) = comps(idx)
            std(i) = f.dcTabs(tt >> 4)
            sta(i) = f.acTabs(tt & 0x0F)
          }
          i += 1
        }
        val pe = sb + 1 + 2 * ns
        val ss = u8(p, pe)
        val se = u8(p, pe + 1)
        val ah = u8(p, pe + 2) >> 4
        val al = u8(p, pe + 2) & 0x0F
        val dcScan = ss == 0
        val validBand =
          if (dcScan) se == 0 else ns == 1 && ss <= se && se <= 63
        // DC-refinement reads raw bits (no table); other kinds need theirs
        val tablesOk = bindOk && (0 until ns).forall { j =>
          if (dcScan) ah != 0 || std(j) != null else sta(j) != null
        }
        if (!bindOk || !validBand || al > 13 || !tablesOk) ok = false
        else {
          // latch each scanned component's quant table ONCE, at its first
          // scan — libjpeg's latch_quant_tables contract (advice r16 #2)
          var lj = 0
          while (lj < ns) {
            if (sc(lj).latchedQt == null) sc(lj).latchedQt = f.quant(sc(lj).tq)
            lj += 1
          }
          val r = new BitReader(p, scanPos + 2 + sl, p.length)
          ok = decodeScanBody(r, sc, std, sta, ns, ss, se, ah, al, f.ri, f.mcuW, f.mcuH)
          sawScan = true
          if (ok) {
            // entropy data ends at the next marker: skip pad bits and any
            // 0xFF fill bytes (T.81 B.1.1.2), then walk the segments between
            // scans — DHT/DQT/DRI redefinition there is legal and honored —
            // to the next SOS or EOI
            var q = r.pos
            var markerAt = -1
            while (markerAt < 0 && q + 1 < p.length) {
              if (u8(p, q) == 0xFF && u8(p, q + 1) != 0x00 && u8(p, q + 1) != 0xFF)
                markerAt = q
              else q += 1
            }
            val next = if (markerAt < 0) SegBad // truncated: no terminating marker
              else walkSegments(p, markerAt, f, header = false)
            if (next == SegEoi) finished = true
            else if (next == SegBad) ok = false
            else scanPos = next
          }
        }
      }
    }
    if (!sawScan) ScanNoScan
    else if (!ok) ScanCorrupt
    else ScanOk
  }

  /** Parse one DHT segment body (possibly several tables); false on a
    * malformed table declaration.
    */
  private def parseDht(p: Array[Byte], body: Int, end: Int,
      dcTabs: Array[JHuff], acTabs: Array[JHuff]): Boolean = {
    var q = body
    while (q + 17 <= end) {
      val tc = u8(p, q) >> 4
      val th = u8(p, q) & 0x0F
      val bits = new Array[Int](17)
      var n = 0
      var l = 1
      while (l <= 16) { bits(l) = u8(p, q + l); n += bits(l); l += 1 }
      if (q + 17 + n > end || n > 256) return false
      val vals = Array.tabulate(n)(i => u8(p, q + 17 + i))
      if (th < 4) {
        if (tc == 0) dcTabs(th) = new JHuff(bits, vals)
        else if (tc == 1) acTabs(th) = new JHuff(bits, vals)
      }
      q += 17 + n
    }
    true
  }

  // --------------------------------------------------------- pixel assembly

  /** Consumer of finished MCUs from both the baseline walk and the
    * progressive emission: `units` holds the MCU's DEQUANTIZED zig-zag
    * blocks in [[mcuUnits]] order, `hasAc` whether each carries AC energy.
    * `finish` runs once, after a successful decode. Two assemblies, gray
    * and colour, each wrapping the tier's fold, keep every call site
    * bimorphic.
    */
  private abstract class McuSink {
    def mcu(mx: Int, my: Int, units: Array[Array[Int]], hasAc: Array[Boolean]): Unit
    def finish(): Unit = ()
  }

  /** Per-block consumer of DEQUANTIZED zig-zag-ordered coefficients: the
    * gray tiers' pixel folds (stats vs 4×4 grid).
    */
  private trait BlockSink {
    def block(bx: Int, by: Int, coefZz: Array[Int], hasAc: Boolean): Unit
  }

  /** The gray assembly: a one-component 1×1 frame has one data unit per
    * MCU, so MCU (mx, my) is block (bx, by).
    */
  private final class GrayMcus(sink: BlockSink) extends McuSink {
    def mcu(mx: Int, my: Int, units: Array[Array[Int]], hasAc: Array[Boolean]): Unit =
      sink.block(mx, my, units(0), hasAc(0))
  }

  private def clamp255(v: Int): Int = math.min(255, math.max(0, v))

  /** Reconstruct one in-geometry pixel of a block: the flat-block
    * shortcut (IDCT of a DC-only block is exactly DC/8, T.81 A.3.3) or
    * the reference double IDCT.
    */
  private def pixelOf(coef: Array[Int], hasAc: Boolean, xx: Int, yy: Int): Int =
    if (!hasAc) {
      val f = coef(0)
      val q8 = if (f >= 0) (f + 4) / 8 else -((-f + 4) / 8)
      clamp255(q8 + 128)
    } else idctPixel(coef, xx, yy)

  /** The `graft_jpeg_stats` fold: luma sum + position-weighted checksum
    * over in-geometry pixels.
    */
  private final class StatsSink(w: Int, h: Int) extends BlockSink {
    var sum = 0L
    var wsum = 0L
    def block(bx: Int, by: Int, coef: Array[Int], hasAc: Boolean): Unit = {
      var yy = 0
      while (yy < 8) {
        val py = by * 8 + yy
        if (py < h) {
          var xx = 0
          while (xx < 8) {
            val px = bx * 8 + xx
            if (px < w) {
              val v = pixelOf(coef, hasAc, xx, yy)
              sum += v
              wsum += (py.toLong * w + px + 1L) * v
            }
            xx += 1
          }
        }
        yy += 1
      }
    }
  }

  /** The content-embedding fold: 4×4 spatial grid of per-cell means. */
  private final class GridSink(w: Int, h: Int) extends BlockSink {
    val sums = new Array[Long](16)
    val cnts = new Array[Long](16)
    def block(bx: Int, by: Int, coef: Array[Int], hasAc: Boolean): Unit = {
      var yy = 0
      while (yy < 8) {
        val py = by * 8 + yy
        if (py < h) {
          var xx = 0
          while (xx < 8) {
            val px = bx * 8 + xx
            if (px < w) {
              val v = pixelOf(coef, hasAc, xx, yy)
              val cell = (py * 4 / h) * 4 + px * 4 / w
              sums(cell) += v
              cnts(cell) += 1
            }
            xx += 1
          }
        }
        yy += 1
      }
    }
    /** Cell means duplicated across the R,G,B slots (48 dims in [0,1]) so
      * grayscale embeddings share the image space; null if a cell is
      * empty (w or h < 4).
      */
    def emit(): Array[Double] = {
      val out = new Array[Double](48)
      var c = 0
      while (c < 16) {
        if (cnts(c) == 0) return null
        val m = (sums(c).toDouble / cnts(c)) / 255.0
        out(c * 3) = m; out(c * 3 + 1) = m; out(c * 3 + 2) = m
        c += 1
      }
      out
    }
  }

  /** Per-pixel consumer for the colour tiers: converted RGB plus the
    * underlying YCbCr, in top-down image order.
    */
  private trait RgbSink {
    def pixel(px: Int, py: Int, yv: Int, cb: Int, cr: Int,
        rv: Int, gv: Int, bv: Int): Unit
  }

  /** The colour assembly, streaming to the tier's per-pixel fold `sink`.
    * 4:4:4 streams converted pixels per MCU — every component is full
    * resolution, no upsampling anywhere. Subsampled geometries write each
    * MCU's decoded (range-limited) samples into padded planes and convert
    * in [[finish]]: the chroma plane varies across MCUs and the upsampling
    * filter reads neighbor samples across MCU boundaries, so that fold
    * cannot run per MCU.
    */
  private final class ColorMcus(f: Frame, sink: RgbSink) extends McuSink {
    private val w = f.w
    private val h = f.h
    private val hs = f.hs
    private val vs = f.vs
    private val nY = hs * vs // Y data units per MCU (1, 2 or 4)
    private val yW = 8 * hs * f.mcuW
    private val cW = 8 * f.mcuW
    private val yPlane = if (nY > 1) new Array[Byte](yW * 8 * vs * f.mcuH) else null
    private val cbPlane = if (nY > 1) new Array[Byte](cW * 8 * f.mcuH) else null
    private val crPlane = if (nY > 1) new Array[Byte](cW * 8 * f.mcuH) else null

    def mcu(mx: Int, my: Int, units: Array[Array[Int]], hasAc: Array[Boolean]): Unit =
      if (nY == 1) {
        val y = units(0)
        val cb = units(1)
        val cr = units(2)
        val yAc = hasAc(0)
        val cbAc = hasAc(1)
        val crAc = hasAc(2)
        var yy = 0
        while (yy < 8) {
          val py = my * 8 + yy
          if (py < h) {
            var xx = 0
            while (xx < 8) {
              val px = mx * 8 + xx
              if (px < w)
                ycc(px, py, pixelOf(y, yAc, xx, yy), pixelOf(cb, cbAc, xx, yy),
                  pixelOf(cr, crAc, xx, yy))
              xx += 1
            }
          }
          yy += 1
        }
      } else {
        // Y units at their (u % hs, u / hs) offset in the MCU, then Cb, Cr
        var u = 0
        while (u < nY + 2) {
          val luma = u < nY
          val plane = if (luma) yPlane else if (u == nY) cbPlane else crPlane
          val pw = if (luma) yW else cW
          val x0 = if (luma) (mx * hs + u % hs) * 8 else mx * 8
          val y0 = if (luma) (my * vs + u / hs) * 8 else my * 8
          fill(plane, (y0 * pw) + x0, pw, units(u), hasAc(u))
          u += 1
        }
      }

    /** One block's samples into `plane` from offset `at`, row pitch `pw`. */
    private def fill(plane: Array[Byte], at: Int, pw: Int, coef: Array[Int], hasAc: Boolean): Unit = {
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          plane(at + yy * pw + xx) = pixelOf(coef, hasAc, xx, yy).toByte
          xx += 1
        }
        yy += 1
      }
    }

    /** Chroma upsampling + per-pixel fold over the sample planes: one fold
      * for every subsampled geometry, each the filter the IJG-derived
      * ImageIO reader runs (jdsample.c), pinned byte-exact per pixel in
      * MultimodalSpec. As in libjpeg, a vertical pass first forms per-row
      * column sums t = 3·s[nearer row] + s[farther row], then a horizontal
      * pass combines the nearer and farther column sums 3:1 with one
      * rounding constant and >> 4. Image edges clamp the neighbor index,
      * which reproduces libjpeg's first/last-sample special cases; an axis
      * whose Y factor is 1 takes its own sample as the neighbor, so the one
      * formula covers:
      *  - 4:2:0 (2,2): h2v2_fancy_upsample, rounding 8 (even px) / 7 (odd px);
      *  - 4:2:2 (2,1): h2v1_fancy_upsample, (3·s + s' + 1|2) >> 2 by px
      *    parity, i.e. rounding 4 / 8 on the ×4 sums here;
      *  - 4:4:0 (1,2): the h1v2 FANCY filter, (3·s + s' + 1|2) >> 2 by py
      *    parity. Classic IJG 6b fell through to int_upsample (row
      *    replication) here, but the filter the JDK's bundled decoder
      *    ACTUALLY runs is the libjpeg-turbo h1v2_fancy_upsample —
      *    established empirically by the per-pixel MultimodalSpec pin
      *    (replication missed by ±3 at block boundaries).
      * T.81 does not mandate an upsampling filter; matching libjpeg's
      * default is the interoperable choice (sample replication, the pre-r13
      * implementation, only agreed on flat-chroma images).
      */
    override def finish(): Unit = if (nY > 1) {
      val cols = (w + hs - 1) / hs // chroma samples inside the image
      val rows = (h + vs - 1) / vs
      val near = new Array[Int](w) // nearer / farther chroma column per px
      val far = new Array[Int](w)
      var px = 0
      while (px < w) {
        near(px) = px >> (hs - 1)
        far(px) = if (hs == 1) px else farther(px, cols)
        px += 1
      }
      val tCb = new Array[Int](cols)
      val tCr = new Array[Int](cols)
      var py = 0
      while (py < h) {
        val row = (py >> (vs - 1)) * cW
        val rowN = (if (vs == 1) py else farther(py, rows)) * cW
        var i = 0
        while (i < cols) {
          tCb(i) = 3 * (cbPlane(row + i) & 0xFF) + (cbPlane(rowN + i) & 0xFF)
          tCr(i) = 3 * (crPlane(row + i) & 0xFF) + (crPlane(rowN + i) & 0xFF)
          i += 1
        }
        // rounding by px parity; 4:4:0's depends on py parity instead
        val rndEven = if (hs == 1) 4 << (py & 1) else if (vs == 2) 8 else 4
        val rndOdd = if (hs == 1) rndEven else if (vs == 2) 7 else 8
        px = 0
        while (px < w) {
          val rnd = if ((px & 1) == 0) rndEven else rndOdd
          val a = near(px)
          val b = far(px)
          ycc(px, py, yPlane(py * yW + px) & 0xFF,
            (3 * tCb(a) + tCb(b) + rnd) >> 4, (3 * tCr(a) + tCr(b) + rnd) >> 4)
          px += 1
        }
        py += 1
      }
    }

    /** The farther neighbor of full-resolution index `p` on a factor-2
      * axis with `n` chroma samples: the previous sample for even `p`, the
      * next for odd, clamped at the edges.
      */
    private def farther(p: Int, n: Int): Int = {
      val s = p >> 1
      if ((p & 1) == 0) { if (s > 0) s - 1 else 0 } else math.min(s + 1, n - 1)
    }

    /** YCbCr → RGB with libjpeg's exact 16-bit fixed-point arithmetic
      * (jdcolor.c: FIX(1.40200) = 91881, FIX(0.34414) = 22554,
      * FIX(0.71414) = 46802, FIX(1.77200) = 116130, +32768 rounding,
      * arithmetic >> 16), i.e. the SAME integers ImageIO's native reader
      * produces — which is what lets MultimodalSpec pin byte parity on the
      * colour output.
      */
    private def ycc(px: Int, py: Int, yv: Int, cb: Int, cr: Int): Unit = {
      val cbx = cb - 128
      val crx = cr - 128
      sink.pixel(px, py, yv, cb, cr,
        clamp255(yv + ((91881 * crx + 32768) >> 16)),
        clamp255(yv + ((-22554 * cbx - 46802 * crx + 32768) >> 16)),
        clamp255(yv + ((116130 * cbx + 32768) >> 16)))
    }
  }

  private final class StatsRgbSink(w: Int) extends RgbSink {
    var sumY = 0L; var sumCb = 0L; var sumCr = 0L
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var wsumR = 0L
    def pixel(px: Int, py: Int, yv: Int, cb: Int, cr: Int,
        rv: Int, gv: Int, bv: Int): Unit = {
      sumY += yv; sumCb += cb; sumCr += cr
      sumR += rv; sumG += gv; sumB += bv
      wsumR += (py.toLong * w + px + 1L) * rv
    }
  }

  private final class GridRgbSink(w: Int, h: Int) extends RgbSink {
    val sums = new Array[Long](48)
    val cnts = new Array[Long](16)
    def pixel(px: Int, py: Int, yv: Int, cb: Int, cr: Int,
        rv: Int, gv: Int, bv: Int): Unit = {
      val cell = (py * 4 / h) * 4 + px * 4 / w
      cnts(cell) += 1
      sums(cell * 3) += rv
      sums(cell * 3 + 1) += gv
      sums(cell * 3 + 2) += bv
    }
    def emit(): Array[Double] = {
      val out = new Array[Double](48)
      var i = 0
      while (i < 48) {
        val cnt = cnts(i / 3)
        if (cnt == 0) return null
        out(i) = (sums(i).toDouble / cnt) / 255.0
        i += 1
      }
      out
    }
  }

  // --------------------------------------------------------- the tiers

  /** Grayscale pixel-stats decode (baseline SOF0 and, since round 15,
    * progressive SOF2): geometry always reported once the header parses,
    * sums nulled on a malformed entropy stream.
    */
  def jpeg(p: Array[Byte]): InternalRow = {
    val out = new Array[Any](6)
    var sinkRef: StatsSink = null
    val res = decode(p, 1, f => { sinkRef = new StatsSink(f.w, f.h); new GrayMcus(sinkRef) })
    if (res == null) return new GenericInternalRow(out)
    out(0) = Integer.valueOf(res.w)
    out(1) = Integer.valueOf(res.h)
    out(2) = java.lang.Long.valueOf(res.nMcus) // one block per gray MCU
    if (res.ok) {
      out(3) = java.lang.Long.valueOf(sinkRef.sum)
      out(4) = java.lang.Long.valueOf(sinkRef.wsum)
      out(5) = java.lang.Long.valueOf(res.nAc)
    }
    new GenericInternalRow(out)
  }

  /** Grid-mean content embedding over the GRAYSCALE tiers (baseline and
    * progressive): same decode driver as [[jpeg]], folding per-pixel
    * values into a 4×4 spatial grid, emitted as 48 dims (each cell's mean
    * duplicated across the R,G,B slots so image embeddings share one
    * space regardless of source format; values in [0,1]). Error contract
    * is simpler than the stats row's: ANY failure — bad gates, malformed
    * entropy stream, color file — returns null (the encoder's honest-null
    * routing). w,h < 4 also null (a grid cell would be empty).
    */
  def embedGray(p: Array[Byte]): Array[Double] = {
    var sinkRef: GridSink = null
    val res = decode(p, 1, f => { sinkRef = new GridSink(f.w, f.h); new GrayMcus(sinkRef) })
    if (res == null || !res.ok) return null
    sinkRef.emit()
  }

  /** Content embedding over EVERY decodable JPEG tier: grayscale baseline
    * + progressive through the gray grid fold, colour — every sampling
    * geometry, baseline AND progressive (round 16) — through the RGB grid
    * fold over libjpeg-exact converted pixels. The gray attempt costs a
    * colour file only its header walk (the SOF component count rejects in
    * the segment walk before any entropy work).
    */
  def embed(p: Array[Byte]): Array[Double] = {
    val g = embedGray(p)
    if (g != null) g else embedColor(p)
  }

  val colorOutType: StructType = StructType(Seq(
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("n_mcus", LongType),
    StructField("sum_y", LongType), StructField("sum_cb", LongType),
    StructField("sum_cr", LongType),
    StructField("sum_r", LongType), StructField("sum_g", LongType),
    StructField("sum_b", LongType), StructField("wsum_r", LongType),
    StructField("n_ac_coeffs", LongType)))

  /** COLOUR JPEG decode, baseline and progressive: YCbCr with chroma
    * sampled 1×1 and Y at 1 or 2 per axis — 4:4:4, 4:2:0 (the dominant
    * real-corpus layout), 4:2:2 and 4:4:0; any other sampling nulls out.
    * The same driver as [[jpeg]] runs per component: per-table DQT/DHT
    * bookkeeping (luma/chroma quantizers and Huffman pairs), SOS
    * component→table binding by id, interleaved MCUs (hs×vs Y data units,
    * then Cb, Cr — T.81 A.2.3) with per-COMPONENT DC predictors, AC
    * run-length decode, dequant and reconstruction; then libjpeg's exact
    * fixed-point RGB conversion and, for the subsampled geometries, the
    * chroma upsampling filter libjpeg runs for that geometry (see
    * [[ColorMcus]]). Those are the SAME integers ImageIO's native reader
    * produces, which is what lets the subsampled fixtures vary chroma PER
    * MCU (MediaSynth.jpegColor420 plants a different (Cb, Cr) per MCU) and
    * still pin per-pixel ImageIO parity in MultimodalSpec. Null/integrity
    * semantics follow [[jpeg]]: junk returns all-null, a malformed entropy
    * stream (in ANY component — chroma corruption triggers exactly like
    * luma) nulls the sums.
    */
  def jpegColor(p: Array[Byte]): InternalRow = {
    val out = new Array[Any](11)
    var sinkRef: StatsRgbSink = null
    val res = decode(p, 3, f => { sinkRef = new StatsRgbSink(f.w); new ColorMcus(f, sinkRef) })
    if (res == null) return new GenericInternalRow(out)
    out(0) = Integer.valueOf(res.w)
    out(1) = Integer.valueOf(res.h)
    out(2) = java.lang.Long.valueOf(res.nMcus)
    if (res.ok) {
      out(3) = java.lang.Long.valueOf(sinkRef.sumY)
      out(4) = java.lang.Long.valueOf(sinkRef.sumCb)
      out(5) = java.lang.Long.valueOf(sinkRef.sumCr)
      out(6) = java.lang.Long.valueOf(sinkRef.sumR)
      out(7) = java.lang.Long.valueOf(sinkRef.sumG)
      out(8) = java.lang.Long.valueOf(sinkRef.sumB)
      out(9) = java.lang.Long.valueOf(sinkRef.wsumR)
      out(10) = java.lang.Long.valueOf(res.nAc)
    }
    new GenericInternalRow(out)
  }

  /** Grid-mean content embedding over the COLOUR tiers (round-15
    * verdict task #2 — color JPEGs stop embedding as null): the same
    * decode + libjpeg-exact RGB conversion as [[jpegColor]], folded into
    * 4×4 per-cell channel means (48 dims in [0,1], true R,G,B — the same
    * layout the BMP/PNG encoder emits). Null on any failure or w,h < 4.
    */
  def embedColor(p: Array[Byte]): Array[Double] = {
    var sinkRef: GridRgbSink = null
    val res = decode(p, 3, f => { sinkRef = new GridRgbSink(f.w, f.h); new ColorMcus(f, sinkRef) })
    if (res == null || !res.ok) return null
    sinkRef.emit()
  }

  // zig-zag order: index in scan order -> (row, col)
  private val zzRow = Array(
    0, 0, 1, 2, 1, 0, 0, 1, 2, 3, 4, 3, 2, 1, 0, 0, 1, 2, 3, 4, 5, 6, 5, 4,
    3, 2, 1, 0, 0, 1, 2, 3, 4, 5, 6, 7, 7, 6, 5, 4, 3, 2, 1, 2, 3, 4, 5, 6,
    7, 7, 6, 5, 4, 3, 4, 5, 6, 7, 7, 6, 5, 6, 7, 7)
  private val zzCol = Array(
    0, 1, 0, 0, 1, 2, 3, 2, 1, 0, 0, 1, 2, 3, 4, 5, 4, 3, 2, 1, 0, 0, 1, 2,
    3, 4, 5, 6, 7, 6, 5, 4, 3, 2, 1, 0, 1, 2, 3, 4, 5, 6, 7, 7, 6, 5, 4, 3,
    2, 3, 4, 5, 6, 7, 7, 6, 5, 4, 5, 6, 7, 7, 6, 7)

  /** Reference double-precision 2-D IDCT of one pixel (T.81 A.3.3) over
    * zig-zag-ordered dequantized coefficients; rounded and clamped. Exact
    * on DC-only blocks; on AC blocks this is the non-mandated tier where
    * conforming decoders may differ by ±1 (except single coefficients at
    * zig-zag index 10, integer-exact — see MediaSynth.jpegAc).
    */
  private def idctPixel(coefZz: Array[Int], x: Int, y: Int): Int = {
    var s = 0.0
    var k = 0
    while (k < 64) {
      val f = coefZz(k)
      if (f != 0) {
        val u = zzCol(k)
        val v = zzRow(k)
        val cu = if (u == 0) 0.7071067811865476 else 1.0
        val cv = if (v == 0) 0.7071067811865476 else 1.0
        s += cu * cv * f *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      }
      k += 1
    }
    clamp255(math.round(s / 4).toInt + 128)
  }
}

case class JpegStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_jpeg_stats expects a binary payload, got $other")
  }
  override def dataType: DataType = JpegDecode.outType
  override def nullSafeEval(p: Any): Any = JpegDecode.jpeg(p.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.JpegDecode.jpeg($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegStats =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_stats"
}

case class JpegColorStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_jpeg_color_stats expects a binary payload, got $other")
  }
  override def dataType: DataType = JpegDecode.colorOutType
  override def nullSafeEval(p: Any): Any =
    JpegDecode.jpegColor(p.asInstanceOf[Array[Byte]])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.JpegDecode.jpegColor($c);")
  override protected def withNewChildInternal(newChild: Expression): JpegColorStats =
    copy(child = newChild)
  override def prettyName: String = "graft_jpeg_color_stats"
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object JpegFunctions {
  val statsName = "graft_jpeg_stats"
  val colorStatsName = "graft_jpeg_color_stats"
  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)
  def jpegStats(payload: Column): Column = call_function(statsName, payload)
  def jpegColorStats(payload: Column): Column = call_function(colorStatsName, payload)
}
