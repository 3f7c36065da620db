package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** JPEG (ITU T.81) decode kernels — the entropy tier of the last codec
  * stub made real, grown across rounds into a decoder ladder:
  *
  *  - BASELINE GRAYSCALE (SOF0, one component): segment walk with
  *    length-checked reads, canonical JPEG Huffman table construction
  *    from the file's own DHT (BITS[1..16] + HUFFVAL), MSB-first bit
  *    reads with 0xFF00 de-stuffing, per-block DC difference decoding
  *    (category + signed-magnitude extension, cross-block prediction),
  *    full AC run-length decoding (EOB, ZRL, run/size pairs), dequant,
  *    2-D inverse DCT reconstruction;
  *  - PROGRESSIVE GRAYSCALE (SOF2, round 15): the multi-scan spectral-
  *    selection + successive-approximation machinery real web JPEGs are
  *    mostly encoded with (T.81 Annex G): a per-image coefficient plane
  *    accumulated across scans — DC-first scans with the Al point
  *    transform, DC-refinement scans (one raw bit per block), AC-first
  *    scans with EOB-run decoding (EOBn symbols + extra bits), and
  *    AC-refinement scans running the G.1.2.3 correction-bit algorithm
  *    (newly-nonzero insertion at a zero-history position, inline
  *    correction bits for already-nonzero coefficients, EOB-run carried
  *    correction bits) — then one dequant + IDCT emission over the
  *    finished plane. DHT redefinition between scans is honored; DNL
  *    stays outside the envelope (nulls honestly, as arithmetic coding
  *    does);
  *  - RESTART INTERVALS (DRI, round 15) on every Huffman tier: at each
  *    interval boundary the stream byte-aligns, the RSTm index is
  *    verified strictly (cycling 0..7, per scan in progressive — T.81
  *    E.1.4), DC predictors reset, and a progressive EOB run may not
  *    cross the boundary. Real web JPEGs carry DRI routinely;
  *  - COLOR BASELINE (SOF0, three components, 4:4:4 or 4:2:0): see
  *    [[JpegDecode.jpegColor]];
  *  - COLOR PROGRESSIVE (SOF2, three components, 4:4:4 or 4:2:0, round
  *    16): the Annex G machinery generalized to multi-component —
  *    per-component coefficient planes, interleaved DC scans in MCU order
  *    over the padded grids (per-component predictors), non-interleaved
  *    AC/DC scans over the owning component's real blocks — feeding the
  *    same libjpeg-exact RGB conversion and h2v2 fancy upsampling as the
  *    baseline color tiers. One engine serves gray and color
  *    ([[JpegDecode]] `runProgressiveScans`), so a fix lands once.
  *
  * The per-PIXEL consumers are factored out of the decode machinery
  * (round-15, retiring the duplicated segment walk the round-14 advice
  * flagged): the gray tiers share one driver ([[JpegDecode]] `decodeGray`)
  * parameterized by a per-block sink — the stats fold behind
  * `graft_jpeg_stats` and the 4×4 grid-mean fold behind the content
  * embedding — and the color tiers share the same split via a per-pixel
  * RGB sink. A future fix to the shared machinery (restart markers, DQT
  * table selection) lands once.
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

  // ------------------------------------------------ shared gray machinery

  /** Per-block consumer of DEQUANTIZED zig-zag-ordered coefficients; the
    * decode drivers stream blocks here, so the pixel folds (stats vs 4×4
    * grid) exist once regardless of baseline/progressive entropy layout.
    */
  private trait BlockSink {
    def block(bx: Int, by: Int, coefZz: Array[Int], hasAc: Boolean): Unit
  }

  /** Reconstruct one in-geometry pixel of a block: the flat-block
    * shortcut (IDCT of a DC-only block is exactly DC/8, T.81 A.3.3) or
    * the reference double IDCT.
    */
  private def pixelOf(coef: Array[Int], hasAc: Boolean, xx: Int, yy: Int): Int =
    if (!hasAc) {
      val f = coef(0)
      val q8 = if (f >= 0) (f + 4) / 8 else -((-f + 4) / 8)
      math.min(255, math.max(0, q8 + 128))
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

  /** Decode outcome for the gray tiers; a null GrayOut = header failure
    * (nothing reportable), ok=false = valid header but malformed entropy
    * stream (geometry reportable, sums not). The allocate-before-validate
    * plausibility guard (header-declared dims demanding more plane mass
    * than the remaining entropy bytes could code) is the SAME contract on
    * every tier, gray and color alike: the header DID parse, so geometry
    * reports and sums null — ok=false, never a whole-row null (advice
    * r16 #3 closed the gray-progressive asymmetry).
    */
  private final class GrayOut(val w: Int, val h: Int, val ok: Boolean, val nAc: Long)

  /** Unified single-component (grayscale) decode driver: walks segments
    * to the first SOS exactly as a real parser (APPn/COM-heavy headers
    * included), then runs the SOF0 single-scan streaming path or the
    * SOF2 multi-scan progressive path, streaming dequantized blocks to
    * `mk(w, h)`.
    */
  private def decodeGray(p: Array[Byte], mk: (Int, Int) => BlockSink): GrayOut = {
    if (p.length < 4 || u8(p, 0) != 0xFF || u8(p, 1) != 0xD8) return null
    var pos = 2
    var w = -1
    var h = -1
    var progressive = false
    var ri = 0 // DRI restart interval (0 = none)
    var compTq = 0
    var compIdG = -1 // the single component's id (scan headers bind by id)
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JHuff](4)
    val acTabs = new Array[JHuff](4)
    var sosAt = -1
    // Segment walk to the first SOS, bounded by position progress alone:
    // every iteration advances pos by 2+len with len >= 2 enforced below,
    // so the walk is O(p.length) and an APPn/COM-heavy file (EXIF/XMP)
    // with any number of metadata segments still reaches its SOS (a fixed
    // hop cap silently nulled such files out).
    while (sosAt < 0 && pos + 4 <= p.length) {
      if (u8(p, pos) != 0xFF) return null
      val marker = u8(p, pos + 1)
      val len = beU16(p, pos + 2)
      if (len < 2 || pos + 2 + len > p.length) return null
      val body = pos + 4
      val end = pos + 2 + len
      marker match {
        case 0xDB => // DQT: possibly several 8-bit tables per segment
          var q = body
          while (q + 65 <= end) {
            val pq = u8(p, q) >> 4
            val tq = u8(p, q) & 0x0F
            if (pq == 0 && tq < 4)
              quant(tq) = Array.tabulate(64)(i => u8(p, q + 1 + i))
            q += 65
          }
        case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive: 8-bit, one 1x1 component
          if (len >= 11 && u8(p, body) == 8 && u8(p, body + 5) == 1 &&
            u8(p, body + 7) == 0x11) {
            progressive = marker == 0xC2
            h = beU16(p, body + 1)
            w = beU16(p, body + 3)
            compIdG = u8(p, body + 6)
            compTq = u8(p, body + 8)
          } else return null // outside the envelope (multi-component etc.)
        case 0xC4 => // DHT: possibly several tables in one segment
          if (!parseDht(p, body, end, dcTabs, acTabs)) return null
        case 0xDD => // DRI: restart interval (supported since round 15)
          if (len >= 4) ri = beU16(p, body)
        case 0xDA => sosAt = pos // SOS: entropy data follows the header
        case 0xD9 => return null // EOI before SOS
        case _ => () // APPn / COM / others: skip
      }
      if (sosAt < 0) pos += 2 + len
    }
    val dimCap = if (progressive) 1 << 13 else 1 << 14
    if (sosAt < 0 || w <= 0 || h <= 0 || compTq > 3 || quant(compTq) == null ||
      w > dimCap || h > dimCap)
      return null
    val qt = quant(compTq)
    val bw = (w + 7) / 8
    val bh = (h + 7) / 8

    // first-scan header: Ns must be 1; bind the scan's tables
    val sosLen = beU16(p, sosAt + 2)
    if (sosAt + 2 + sosLen > p.length || sosLen != 8 || u8(p, sosAt + 4) != 1)
      return null

    if (!progressive) {
      // ---- SOF0: single-scan streaming path (no coefficient plane) ----
      val tt = u8(p, sosAt + 6)
      if ((tt >> 4) > 3 || (tt & 0x0F) > 3) return null
      val dcT = dcTabs(tt >> 4)
      val acT = acTabs(tt & 0x0F)
      if (dcT == null || acT == null) return null
      val sink = mk(w, h)
      val scanStart = sosAt + 2 + sosLen
      if (scanStart >= p.length) return new GrayOut(w, h, false, 0L)
      val r = new BitReader(p, scanStart, p.length)
      var nAc = 0L
      var pred = 0
      val coef = new Array[Int](64)
      var by = 0
      var ok = true
      while (ok && by < bh) {
        var bx = 0
        while (ok && bx < bw) {
          val mcu = by * bw + bx
          if (ri > 0 && mcu > 0 && mcu % ri == 0) {
            // restart boundary: byte-align + strict RSTm check, DC
            // predictor resets (T.81 E.1.4 / F.2.1.3.1)
            if (!r.restart((mcu / ri - 1) % 8)) ok = false
            pred = 0
          }
          if (!ok) return new GrayOut(w, h, false, nAc)
          java.util.Arrays.fill(coef, 0)
          // DC: category + extended difference, predicted from the last block
          val t = dcT.decode(r)
          if (t < 0 || t > 11) ok = false
          else {
            val diffBits = if (t == 0) 0 else r.bits(t)
            if (diffBits < 0) ok = false
            else {
              pred += extend(diffBits, t)
              coef(0) = pred * qt(0)
              // AC: run/size pairs until EOB or 63 coefficients
              var k = 1
              var eob = false
              while (ok && !eob && k < 64) {
                val rs = acT.decode(r)
                if (rs < 0) ok = false
                else if (rs == 0x00) eob = true
                else if (rs == 0xF0) k += 16 // ZRL
                else {
                  val run = rs >> 4
                  val size = rs & 0x0F
                  k += run
                  if (k > 63) ok = false
                  else {
                    val m = r.bits(size)
                    if (m < 0) ok = false
                    else {
                      coef(k) = extend(m, size) * qt(k)
                      nAc += 1
                      k += 1
                    }
                  }
                }
              }
              if (ok) {
                var hasAc = false
                var i = 1
                while (i < 64 && !hasAc) { hasAc = coef(i) != 0; i += 1 }
                sink.block(bx, by, coef, hasAc)
              }
            }
          }
          bx += 1
        }
        by += 1
      }
      return new GrayOut(w, h, ok, nAc)
    }

    // ---- SOF2: multi-scan progressive path (T.81 Annex G) ----
    // RAW (pre-dequant) coefficients accumulate across scans; successive-
    // approximation bit fiddling (| 1<<Al, ±p1 corrections) operates on
    // raw values, dequant happens once at emission. Short suffices: 8-bit
    // baseline coefficients are ≤ 11 bits + sign, and the point transform
    // only restores bits below that. Plane memory at the 8192² cap is
    // (8192/8)² = 1024² blocks × 64 × 2 B = 134 MB — the same order as
    // the 4:2:0 plane-buffer justification (any real progressive decoder
    // materializes whole-image coefficient memory; that is the format's
    // nature, not this implementation's).
    val nBlocks = bw * bh
    // allocate-before-validate guard: the plane is sized from HEADER
    // fields alone, so a hostile payload declaring 8192×8192 would zero
    // 134 MB before any entropy check. A DC-first scan spends ≥ 1 bit per
    // block, and entropy data lives AFTER the first SOS — so the bound is
    // the remaining ENTROPY bytes, not the total file length (a header-
    // only payload padded with metadata cannot vouch for plane mass;
    // advice r15). Geometry-with-null-sums, like every tier's guard: the
    // header parsed, the entropy stream just cannot be genuine (see the
    // GrayOut contract; advice r16 #3).
    if (nBlocks.toLong > 8L * (p.length - sosAt)) return new GrayOut(w, h, false, 0L)
    val comp = new PComp(1, 1, compTq, bw, bh, bw, bh)
    runProgressiveScans(p, sosAt, Array(comp), Array(compIdG),
      quant, dcTabs, acTabs, ri, bw, bh) match {
      case ScanNoScan => null
      case ScanCorrupt => new GrayOut(w, h, false, 0L)
      case ScanOk =>
        // emit the finished plane: dequant per block, stream to the sink
        // the table latched at the component's FIRST scan, not the last
        // DQT in the stream (libjpeg parity; advice r16 #2)
        val qte = if (comp.latchedQt != null) comp.latchedQt else quant(compTq)
        val sink = mk(w, h)
        val coef = new Array[Int](64)
        var nAc = 0L
        var b = 0
        while (b < nBlocks) {
          val base = b * 64
          var hasAc = false
          var k = 0
          while (k < 64) {
            val c = comp.coefs(base + k).toInt
            coef(k) = c * qte(k)
            if (k > 0 && c != 0) { hasAc = true; nAc += 1 }
            k += 1
          }
          sink.block(b % bw, b / bw, coef, hasAc)
          b += 1
        }
        new GrayOut(w, h, true, nAc)
    }
  }

  // --------------------- progressive machinery (shared, multi-component)

  /** Per-component progressive state: sampling factors, quantizer id, the
    * REAL (non-interleaved) and PADDED (interleaved, MCU-multiple) block
    * geometry, the raw coefficient plane accumulated across scans, and the
    * per-scan DC predictor. T.81 A.2.4: non-interleaved scans code exactly
    * the component's real blocks; interleaved scans cover the padded grid.
    * Both walks write the same padded plane, so emission reads one layout.
    */
  private final class PComp(
      val hs: Int, val vs: Int, val tq: Int,
      val bwReal: Int, val bhReal: Int, val bwPad: Int, val bhPad: Int) {
    val coefs = new Array[Short](bwPad * bhPad * 64)
    var pred = 0
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
  private def dcFirstBlock(r: BitReader, c: PComp, base: Int, dcT: JHuff,
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
  private def dcRefineBlock(r: BitReader, c: PComp, base: Int, p1: Int): Boolean = {
    val bit = r.bit()
    if (bit < 0) return false
    if (bit == 1) c.coefs(base) = (c.coefs(base) | p1).toShort
    true
  }

  /** AC first pass (G.1.2.2) for one block: run/size pairs with EOB-run
    * coding; the run state lives in `ctx` because an EOB run spans blocks.
    */
  private def acFirstBlock(r: BitReader, c: PComp, base: Int, ss: Int, se: Int,
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
  private def acRefineBlock(r: BitReader, c: PComp, base: Int, ss: Int, se: Int,
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
  private def decodeScanBody(r: BitReader, sc: Array[PComp], std: Array[JHuff],
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

  /** Multi-scan progressive (SOF2) driver shared by the grayscale and the
    * color tiers (round 16 — one copy of the Annex G machinery): walks
    * scans from the first SOS to EOI, decoding each into the components'
    * raw coefficient planes and honoring DHT/DQT/DRI redefinition between
    * scans. Scan headers bind components by id and tables per component;
    * interleaved scans must be DC-only (T.81 B.2.3), AC scans
    * single-component with a valid band; Al ≤ 13. Callers dequantize and
    * emit AFTER this returns [[ScanOk]].
    */
  private def runProgressiveScans(
      p: Array[Byte], firstSos: Int, comps: Array[PComp], compIds: Array[Int],
      quant: Array[Array[Int]], dcTabs: Array[JHuff], acTabs: Array[JHuff],
      ri0: Int, mcuW: Int, mcuH: Int): Int = {
    var ri = ri0
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
        val sc = new Array[PComp](ns)
        val std = new Array[JHuff](ns)
        val sta = new Array[JHuff](ns)
        var bindOk = true
        var i = 0
        while (bindOk && i < ns) {
          val cid = u8(p, sb + 1 + 2 * i)
          val tt = u8(p, sb + 2 + 2 * i)
          val idx = compIds.indexOf(cid)
          if (idx < 0 || (tt >> 4) > 3 || (tt & 0x0F) > 3) bindOk = false
          else {
            sc(i) = comps(idx)
            std(i) = dcTabs(tt >> 4)
            sta(i) = acTabs(tt & 0x0F)
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
            if (sc(lj).latchedQt == null) sc(lj).latchedQt = quant(sc(lj).tq)
            lj += 1
          }
          val r = new BitReader(p, scanPos + 2 + sl, p.length)
          ok = decodeScanBody(r, sc, std, sta, ns, ss, se, ah, al, ri, mcuW, mcuH)
          sawScan = true
          if (ok) {
            // entropy data ends at the next marker: skip pad bits and any
            // 0xFF fill bytes (T.81 B.1.1.2), then dispatch on the marker
            var q = r.pos
            var markerAt = -1
            while (markerAt < 0 && q + 1 < p.length) {
              if (u8(p, q) == 0xFF && u8(p, q + 1) != 0x00 && u8(p, q + 1) != 0xFF)
                markerAt = q
              else q += 1
            }
            if (markerAt < 0) ok = false // truncated: no terminating marker
            else {
              var walkPos = markerAt
              var nextScan = -1
              while (ok && nextScan < 0 && !finished && walkPos + 2 <= p.length) {
                val m = u8(p, walkPos + 1)
                if (u8(p, walkPos) != 0xFF) ok = false
                else if (m == 0xD9) finished = true // EOI
                else if (walkPos + 4 > p.length) ok = false
                else {
                  val len2 = beU16(p, walkPos + 2)
                  if (len2 < 2 || walkPos + 2 + len2 > p.length) ok = false
                  else {
                    val b2 = walkPos + 4
                    val e2 = walkPos + 2 + len2
                    m match {
                      case 0xC4 => if (!parseDht(p, b2, e2, dcTabs, acTabs)) ok = false
                      case 0xDB => // DQT redefinition between scans: legal, honored
                        var q2 = b2
                        while (q2 + 65 <= e2) {
                          val pq = u8(p, q2) >> 4
                          val tq = u8(p, q2) & 0x0F
                          if (pq == 0 && tq < 4)
                            quant(tq) = Array.tabulate(64)(i => u8(p, q2 + 1 + i))
                          q2 += 65
                        }
                      case 0xDD => // DRI between scans: legal, honored
                        if (len2 >= 4) ri = beU16(p, b2)
                      case 0xDA => nextScan = walkPos
                      case _ => () // APPn / COM: skip
                    }
                    if (nextScan < 0) walkPos += 2 + len2
                  }
                }
              }
              if (ok && !finished) {
                if (nextScan < 0) ok = false
                else scanPos = nextScan
              }
            }
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

  /** Grayscale pixel-stats decode (baseline SOF0 and, since round 15,
    * progressive SOF2): geometry always reported once the header parses,
    * sums nulled on a malformed entropy stream.
    */
  def jpeg(p: Array[Byte]): InternalRow = {
    val out = new Array[Any](6)
    var sinkRef: StatsSink = null
    val res = decodeGray(p, (w, h) => { sinkRef = new StatsSink(w, h); sinkRef })
    if (res == null) return new GenericInternalRow(out)
    out(0) = Integer.valueOf(res.w)
    out(1) = Integer.valueOf(res.h)
    out(2) = java.lang.Long.valueOf(((res.w + 7) / 8).toLong * ((res.h + 7) / 8))
    if (res.ok) {
      out(3) = java.lang.Long.valueOf(sinkRef.sum)
      out(4) = java.lang.Long.valueOf(sinkRef.wsum)
      out(5) = java.lang.Long.valueOf(res.nAc)
    }
    new GenericInternalRow(out)
  }

  /** Grid-mean content embedding over the GRAYSCALE tiers (baseline and
    * progressive): same decode drivers as [[jpeg]], folding per-pixel
    * values into a 4×4 spatial grid, emitted as 48 dims (each cell's mean
    * duplicated across the R,G,B slots so image embeddings share one
    * space regardless of source format; values in [0,1]). Error contract
    * is simpler than the stats row's: ANY failure — bad gates, malformed
    * entropy stream, color file — returns null (the encoder's honest-null
    * routing). w,h < 4 also null (a grid cell would be empty).
    */
  def embedGray(p: Array[Byte]): Array[Double] = {
    var sinkRef: GridSink = null
    val res = decodeGray(p, (w, h) => { sinkRef = new GridSink(w, h); sinkRef })
    if (res == null || !res.ok) return null
    sinkRef.emit()
  }

  /** Content embedding over EVERY decodable JPEG tier: grayscale baseline
    * + progressive through the gray grid fold, color 4:4:4 / 4:2:0 —
    * baseline AND progressive (round 16) — through the RGB grid fold over
    * libjpeg-exact converted pixels. The gray attempt costs a color file
    * only its header walk (the SOF component count rejects in the segment
    * loop before any entropy work).
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

  // ------------------------------------------------ shared color machinery

  /** Per-pixel consumer for the color tiers: converted RGB plus the
    * underlying YCbCr, in top-down image order.
    */
  private trait RgbSink {
    def pixel(px: Int, py: Int, yv: Int, cb: Int, cr: Int,
        rv: Int, gv: Int, bv: Int): Unit
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

  private final class ColorOut(val w: Int, val h: Int, val nMcus: Long,
    val ok: Boolean, val nAc: Long)

  /** COLOR baseline JPEG decode — the multi-component tier: YCbCr, either
    * three full-resolution components (4:4:4, every sampling factor 1×1)
    * or the dominant real-corpus layout 4:2:0 (Y sampled 2×2, chroma 1×1;
    * any other sampling nulls out). Runs the full T.81 machinery of
    * [[jpeg]] per component — per-table DQT/DHT bookkeeping (luma/chroma
    * quantizers and Huffman pairs), SOS component→table binding,
    * interleaved MCUs (four Y data units per MCU in the 4:2:0 case, T.81
    * A.2.3 ordering) with per-COMPONENT DC predictors, AC run-length
    * decode, dequant, reconstruction — then converts to RGB with
    * libjpeg's exact 16-bit fixed-point arithmetic (jdcolor.c:
    * FIX(1.40200) = 91881, FIX(0.34414) = 22554, FIX(0.71414) = 46802,
    * FIX(1.77200) = 116130, +32768 rounding, arithmetic >> 16), i.e. the
    * SAME integers ImageIO's native reader produces — which is what lets
    * MultimodalSpec pin byte parity on the color output too.
    *
    * Chroma upsampling in the 4:2:0 case is libjpeg's FANCY (h2v2
    * triangular) filter — jdsample.c's h2v2_fancy_upsample: per output
    * pixel the nearer chroma ROW weighs 3:1 against the farther within
    * each of the two nearest columns, the nearer COLUMN sum weighs 3:1
    * against the farther, with rounding 8 (even px) / 7 (odd px) and one
    * >> 4; image edges clamp the neighbor index (reproducing libjpeg's
    * first/last-sample special cases). These are the SAME integers
    * ImageIO's native reader produces — which is what lets the 4:2:0
    * fixtures vary chroma PER MCU (MediaSynth.jpegColor420 plants a
    * different (Cb, Cr) per 16×16 block) and still pin per-pixel ImageIO
    * parity in MultimodalSpec. T.81 does not mandate an upsampling filter;
    * matching libjpeg's default is the interoperable choice (sample
    * replication — the pre-r13 implementation — only agreed on flat-chroma
    * images). Null/integrity semantics follow [[jpeg]]: junk returns
    * all-null, a malformed entropy stream (in ANY component — chroma
    * corruption triggers exactly like luma) nulls the sums.
    */
  def jpegColor(p: Array[Byte]): InternalRow = {
    val out = new Array[Any](11)
    var sinkRef: StatsRgbSink = null
    val res = decodeColor(p, (w, _) => { sinkRef = new StatsRgbSink(w); sinkRef })
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

  /** Grid-mean content embedding over the COLOR baseline tiers (round-15
    * verdict task #2 — color JPEGs stop embedding as null): the same
    * decode + libjpeg-exact RGB conversion as [[jpegColor]], folded into
    * 4×4 per-cell channel means (48 dims in [0,1], true R,G,B — the same
    * layout the BMP/PNG encoder emits). Null on any failure or w,h < 4.
    */
  def embedColor(p: Array[Byte]): Array[Double] = {
    var sinkRef: GridRgbSink = null
    val res = decodeColor(p, (w, h) => { sinkRef = new GridRgbSink(w, h); sinkRef })
    if (res == null || !res.ok) return null
    sinkRef.emit()
  }

  /** Shared color decode driver behind [[jpegColor]] and [[embedColor]];
    * null = header failure, ok=false = malformed entropy stream. Routes
    * SOF0 to the single-scan interleaved baseline path and SOF2 (round 16)
    * to the shared multi-scan progressive engine.
    */
  private def decodeColor(p: Array[Byte], mk: (Int, Int) => RgbSink): ColorOut = {
    if (p.length < 4 || u8(p, 0) != 0xFF || u8(p, 1) != 0xD8) return null
    var pos = 2
    var w = -1
    var h = -1
    var ri = 0 // DRI restart interval (0 = none)
    var progressive = false
    // Y sampling factors (chroma always 1×1): (1,1) = 4:4:4, (2,2) = 4:2:0,
    // (2,1) = 4:2:2, (1,2) = 4:4:0 — the full two-factor envelope round 17
    // generalized the MCU walks to (verdict #4)
    var hsY = 1
    var vsY = 1
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[JHuff](4)
    val acTabs = new Array[JHuff](4)
    var compId: Array[Int] = null
    var compQ: Array[Int] = null
    val compDc = new Array[Int](3)
    val compAc = new Array[Int](3)
    var sosAt = -1
    while (sosAt < 0 && pos + 4 <= p.length) {
      if (u8(p, pos) != 0xFF) return null
      val marker = u8(p, pos + 1)
      val len = beU16(p, pos + 2)
      if (len < 2 || pos + 2 + len > p.length) return null
      val body = pos + 4
      val end = pos + 2 + len
      marker match {
        case 0xDB => // DQT: possibly several 8-bit tables per segment
          var q = body
          while (q + 65 <= end) {
            val pq = u8(p, q) >> 4
            val tq = u8(p, q) & 0x0F
            if (pq == 0 && tq < 4)
              quant(tq) = Array.tabulate(64)(i => u8(p, q + 1 + i))
            q += 65
          }
        case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive: 8-bit,
          // three components, Y factors ∈ {1,2}², chroma 1×1 —
          // 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0
          val f0 = u8(p, body + 7)
          val sampOk = len >= 17 && u8(p, body) == 8 && u8(p, body + 5) == 3 &&
            (f0 >> 4) >= 1 && (f0 >> 4) <= 2 &&
            (f0 & 0x0F) >= 1 && (f0 & 0x0F) <= 2 &&
            u8(p, body + 10) == 0x11 && u8(p, body + 13) == 0x11
          if (sampOk) {
            progressive = marker == 0xC2
            hsY = f0 >> 4
            vsY = f0 & 0x0F
            h = beU16(p, body + 1)
            w = beU16(p, body + 3)
            compId = Array.tabulate(3)(c => u8(p, body + 6 + 3 * c))
            compQ = Array.tabulate(3)(c => u8(p, body + 8 + 3 * c))
          } else return null // outside the envelope
        case 0xC4 => // DHT: possibly several tables in one segment
          if (!parseDht(p, body, end, dcTabs, acTabs)) return null
        case 0xDD => // DRI: restart interval (supported since round 15)
          if (len >= 4) ri = beU16(p, body)
        case 0xDA if progressive =>
          // progressive: the multi-scan engine parses + validates every
          // scan header (a progressive first scan may be interleaved DC
          // over all three components or single-component)
          sosAt = pos
        case 0xDA => // baseline SOS: bind each scan component to its tables
          if (len != 12 || u8(p, body) != 3 || compId == null) return null
          var c = 0
          while (c < 3) {
            val cid = u8(p, body + 1 + 2 * c)
            val tt = u8(p, body + 2 + 2 * c)
            val idx = compId.indexOf(cid)
            if (idx < 0 || (tt >> 4) > 3 || (tt & 0x0F) > 3) return null
            compDc(idx) = tt >> 4
            compAc(idx) = tt & 0x0F
            c += 1
          }
          sosAt = pos
        case 0xD9 => return null // EOI before SOS
        case _ => () // APPn / COM / others: skip
      }
      if (sosAt < 0) pos += 2 + len
    }
    // the 4:2:0 path buffers full sample planes (fancy upsampling needs
    // cross-MCU chroma neighbors) and the progressive path whole-image
    // coefficient planes, so their dimension caps are tighter: ≤ 100 MB /
    // ≤ 200 MB at 8192² — the same order as the BufferedImage any real
    // decoder materializes for such an image
    if (sosAt < 0 || w <= 0 || h <= 0 || compQ == null ||
      w > (1 << 14) || h > (1 << 14) ||
      ((hsY * vsY > 1 || progressive) && (w > (1 << 13) || h > (1 << 13))) ||
      compQ.exists(_ > 3) ||
      (0 until 3).exists(c => quant(compQ(c)) == null))
      return null
    // the baseline path's scan tables bind once at its single SOS; the
    // progressive engine binds per scan (DHTs may even be redefined
    // between scans), so only the baseline path gates on them here
    if (!progressive &&
      (0 until 3).exists(c =>
        dcTabs(compDc(c)) == null || acTabs(compAc(c)) == null))
      return null
    if (progressive)
      return decodeColorProgressive(p, sosAt, w, h, hsY, vsY, compId, compQ,
        quant, dcTabs, acTabs, ri, mk)
    val scanStart = sosAt + 2 + beU16(p, sosAt + 2)
    val mcuPxW = 8 * hsY // MCU pixel span per axis: 8 or 16
    val mcuPxH = 8 * vsY
    val bw = (w + mcuPxW - 1) / mcuPxW
    val bh = (h + mcuPxH - 1) / mcuPxH
    val nMcus = bw.toLong * bh
    if (scanStart >= p.length) return new ColorOut(w, h, nMcus, false, 0L)
    val sink = mk(w, h)
    val nLuma = hsY * vsY // Y data units per MCU (1, 2 or 4)
    val subsampled = nLuma > 1
    val r = new BitReader(p, scanStart, p.length)
    var nAc = 0L
    val pred = new Array[Int](3)
    // data units 0..nLuma-1 = Y (T.81 A.2.3: left-to-right, top-to-bottom),
    // then Cb, then Cr
    val coef = Array.ofDim[Int](nLuma + 2, 64)
    val hasAc = new Array[Boolean](nLuma + 2)
    def clamp255(v: Int): Int = math.min(255, math.max(0, v))
    // subsampled plane buffers: the chroma plane varies across MCUs and the
    // upsampling filter reads NEIGHBOR samples across MCU boundaries, so
    // the pixel fold cannot run per-MCU — decode every sample into padded
    // planes first, fold after the scan
    // same allocate-before-validate guard as the progressive plane: a
    // subsampled MCU holds 4-6 data units (>= 4 Huffman codes, over a
    // byte), so a genuine file carries at least one byte per MCU
    if (subsampled && nMcus > p.length)
      return new ColorOut(w, h, nMcus, false, 0L)
    val yW = if (subsampled) mcuPxW * bw else 0
    val cwPad = if (subsampled) 8 * bw else 0
    val yPlane: Array[Byte] = if (subsampled) new Array(yW * mcuPxH * bh) else null
    val cbPlane: Array[Byte] = if (subsampled) new Array(cwPad * 8 * bh) else null
    val crPlane: Array[Byte] = if (subsampled) new Array(cwPad * 8 * bh) else null
    var by = 0
    var ok = true
    while (ok && by < bh) {
      var bx = 0
      while (ok && bx < bw) {
        val mcu = by * bw + bx
        if (ri > 0 && mcu > 0 && mcu % ri == 0) {
          // restart boundary: byte-align + strict RSTm, EVERY component's
          // DC predictor resets (T.81 E.1.4)
          if (!r.restart((mcu / ri - 1) % 8)) ok = false
          java.util.Arrays.fill(pred, 0)
        }
        // interleaved MCU: nLuma Y units then Cb, Cr — the DC predictor is
        // per COMPONENT, so all Y units in an MCU chain through pred(0)
        var unit = 0
        while (ok && unit < nLuma + 2) {
          val comp = if (unit < nLuma) 0 else unit - nLuma + 1
          val cz = coef(unit)
          java.util.Arrays.fill(cz, 0)
          val qt = quant(compQ(comp))
          val t = dcTabs(compDc(comp)).decode(r)
          if (t < 0 || t > 11) ok = false
          else {
            val diffBits = if (t == 0) 0 else r.bits(t)
            if (diffBits < 0) ok = false
            else {
              pred(comp) += extend(diffBits, t)
              cz(0) = pred(comp) * qt(0)
              var k = 1
              var eob = false
              val acT = acTabs(compAc(comp))
              while (ok && !eob && k < 64) {
                val rs = acT.decode(r)
                if (rs < 0) ok = false
                else if (rs == 0x00) eob = true
                else if (rs == 0xF0) k += 16 // ZRL
                else {
                  val run = rs >> 4
                  val size = rs & 0x0F
                  k += run
                  if (k > 63) ok = false
                  else {
                    val m = r.bits(size)
                    if (m < 0) ok = false
                    else {
                      cz(k) = extend(m, size) * qt(k)
                      nAc += 1
                      k += 1
                    }
                  }
                }
              }
              if (ok) {
                var has = false
                var i = 1
                while (i < 64 && !has) { has = cz(i) != 0; i += 1 }
                hasAc(unit) = has
              }
            }
          }
          unit += 1
        }
        if (ok) {
          def unitVal(unit: Int, xx: Int, yy: Int): Int =
            pixelOf(coef(unit), hasAc(unit), xx, yy)
          if (subsampled) {
            // subsampled: write decoded (range-limited) samples into the
            // plane buffers; the pixel fold runs after the scan because
            // upsampling needs chroma neighbors from adjacent MCUs
            var u = 0
            while (u < nLuma) {
              val baseX = bx * mcuPxW + (u % hsY) * 8
              val baseY = by * mcuPxH + (u / hsY) * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  yPlane((baseY + yy) * yW + baseX + xx) =
                    unitVal(u, xx, yy).toByte
                  xx += 1
                }
                yy += 1
              }
              u += 1
            }
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                val at = (by * 8 + yy) * cwPad + bx * 8 + xx
                cbPlane(at) = unitVal(nLuma, xx, yy).toByte
                crPlane(at) = unitVal(nLuma + 1, xx, yy).toByte
                xx += 1
              }
              yy += 1
            }
          } else {
            // 4:4:4: fold the in-geometry pixels streaming — every
            // component is full-resolution, no upsampling anywhere
            var yy = 0
            while (yy < 8) {
              val py = by * 8 + yy
              if (py < h) {
                var xx = 0
                while (xx < 8) {
                  val px = bx * 8 + xx
                  if (px < w) {
                    val yv = unitVal(0, xx, yy)
                    val cbv = unitVal(nLuma, xx, yy)
                    val crv = unitVal(nLuma + 1, xx, yy)
                    val cbx = cbv - 128
                    val crx = crv - 128
                    val rv = clamp255(yv + ((91881 * crx + 32768) >> 16))
                    val gv = clamp255(
                      yv + ((-22554 * cbx - 46802 * crx + 32768) >> 16))
                    val bv = clamp255(yv + ((116130 * cbx + 32768) >> 16))
                    sink.pixel(px, py, yv, cbv, crv, rv, gv, bv)
                  }
                  xx += 1
                }
              }
              yy += 1
            }
          }
        }
        bx += 1
      }
      by += 1
    }
    if (ok && subsampled)
      foldSubsampledPlanes(hsY, vsY, yPlane, cbPlane, crPlane, yW, cwPad,
        w, h, sink)
    new ColorOut(w, h, nMcus, ok, nAc)
  }

  /** Dispatch to the sampling geometry's upsampling fold: (2,2) h2v2
    * fancy, (2,1) h2v1 fancy, (1,2) row replication — each the filter the
    * IJG-derived ImageIO reader runs for that geometry (jdsample.c
    * jinit_upsampler: h2v2_fancy / h2v1_fancy / int_upsample).
    */
  private def foldSubsampledPlanes(hsY: Int, vsY: Int, yPlane: Array[Byte],
      cbPlane: Array[Byte], crPlane: Array[Byte], yW: Int, cwPad: Int,
      w: Int, h: Int, sink: RgbSink): Unit =
    if (hsY == 2 && vsY == 2)
      fold420Planes(yPlane, cbPlane, crPlane, yW, cwPad, w, h, sink)
    else if (hsY == 2)
      fold422Planes(yPlane, cbPlane, crPlane, yW, cwPad, w, h, sink)
    else
      fold440Planes(yPlane, cbPlane, crPlane, yW, cwPad, w, h, sink)

  /** 4:2:0 chroma upsampling + per-pixel fold over decoded sample planes
    * (shared by the baseline and progressive color paths): libjpeg's h2v2
    * "fancy" triangular filter (jdsample.c h2v2_fancy_upsample — the
    * filter ImageIO's native reader runs by default, pinned byte-exact per
    * pixel in MultimodalSpec): vertically the NEARER chroma row gets
    * weight 3 and the farther 1 (t = 3·s[j] + s[j±1]), horizontally the
    * two column sums combine 3:1 with rounding 8 (even px) / 7 (odd px)
    * and a >> 4. Image edges replicate (the clamped neighbor makes
    * t = 4·s, reproducing libjpeg's first/last special cases). RGB is
    * libjpeg's exact 16-bit fixed-point arithmetic (jdcolor.c).
    */
  private def fold420Planes(yPlane: Array[Byte], cbPlane: Array[Byte],
      crPlane: Array[Byte], yW: Int, cwPad: Int, w: Int, h: Int,
      sink: RgbSink): Unit = {
    def clamp255(v: Int): Int = math.min(255, math.max(0, v))
    val cdw = (w + 1) / 2
    val cdh = (h + 1) / 2
    var py = 0
    while (py < h) {
      val j = py >> 1
      val jn =
        if ((py & 1) == 0) { if (j > 0) j - 1 else 0 }
        else math.min(j + 1, cdh - 1)
      var px = 0
      while (px < w) {
        val i = px >> 1
        val in2 =
          if ((px & 1) == 0) { if (i > 0) i - 1 else 0 }
          else math.min(i + 1, cdw - 1)
        val rnd = if ((px & 1) == 0) 8 else 7
        val cbv = (3 * (3 * (cbPlane(j * cwPad + i) & 0xFF) +
          (cbPlane(jn * cwPad + i) & 0xFF)) +
          (3 * (cbPlane(j * cwPad + in2) & 0xFF) +
            (cbPlane(jn * cwPad + in2) & 0xFF)) + rnd) >> 4
        val crv = (3 * (3 * (crPlane(j * cwPad + i) & 0xFF) +
          (crPlane(jn * cwPad + i) & 0xFF)) +
          (3 * (crPlane(j * cwPad + in2) & 0xFF) +
            (crPlane(jn * cwPad + in2) & 0xFF)) + rnd) >> 4
        val yv = yPlane(py * yW + px) & 0xFF
        val cbx = cbv - 128
        val crx = crv - 128
        val rv = clamp255(yv + ((91881 * crx + 32768) >> 16))
        val gv = clamp255(yv + ((-22554 * cbx - 46802 * crx + 32768) >> 16))
        val bv = clamp255(yv + ((116130 * cbx + 32768) >> 16))
        sink.pixel(px, py, yv, cbv, crv, rv, gv, bv)
        px += 1
      }
      py += 1
    }
  }

  /** 4:2:2 (Y 2×1) upsampling fold — libjpeg's h2v1 "fancy" filter
    * (jdsample.c h2v1_fancy_upsample, the IJG default ImageIO runs):
    * horizontally the NEARER chroma sample weighs 3:1 against the farther
    * with rounding +1 (even px) / +2 (odd px) and one >> 2; rows are
    * full-resolution (no vertical filter). The first/last-column special
    * cases (output = the edge sample verbatim) are exactly the
    * clamped-index formula — (4·s + 1) >> 2 = s — so one formula covers
    * the whole row, mirroring [[fold420Planes]]'s clamping.
    */
  private def fold422Planes(yPlane: Array[Byte], cbPlane: Array[Byte],
      crPlane: Array[Byte], yW: Int, cwPad: Int, w: Int, h: Int,
      sink: RgbSink): Unit = {
    def clamp255(v: Int): Int = math.min(255, math.max(0, v))
    val cdw = (w + 1) / 2
    var py = 0
    while (py < h) {
      var px = 0
      while (px < w) {
        val i = px >> 1
        val in2 =
          if ((px & 1) == 0) { if (i > 0) i - 1 else 0 }
          else math.min(i + 1, cdw - 1)
        val rnd = if ((px & 1) == 0) 1 else 2
        val cbv = (3 * (cbPlane(py * cwPad + i) & 0xFF) +
          (cbPlane(py * cwPad + in2) & 0xFF) + rnd) >> 2
        val crv = (3 * (crPlane(py * cwPad + i) & 0xFF) +
          (crPlane(py * cwPad + in2) & 0xFF) + rnd) >> 2
        val yv = yPlane(py * yW + px) & 0xFF
        val cbx = cbv - 128
        val crx = crv - 128
        val rv = clamp255(yv + ((91881 * crx + 32768) >> 16))
        val gv = clamp255(yv + ((-22554 * cbx - 46802 * crx + 32768) >> 16))
        val bv = clamp255(yv + ((116130 * cbx + 32768) >> 16))
        sink.pixel(px, py, yv, cbv, crv, rv, gv, bv)
        px += 1
      }
      py += 1
    }
  }

  /** 4:4:0 (Y 1×2) upsampling fold — the h1v2 FANCY filter (vertical
    * triangular): the NEARER chroma row weighs 3:1 against the farther,
    * rounding +1 (even py) / +2 (odd py), one >> 2, edge rows clamped.
    * Classic IJG 6b fell through to int_upsample (row replication) here,
    * but the filter the JDK's bundled decoder ACTUALLY runs is the
    * libjpeg-turbo h1v2_fancy_upsample — established empirically by the
    * per-pixel MultimodalSpec pin (replication missed by ±3 at block
    * boundaries), which is the same ground truth the other folds pin.
    */
  private def fold440Planes(yPlane: Array[Byte], cbPlane: Array[Byte],
      crPlane: Array[Byte], yW: Int, cwPad: Int, w: Int, h: Int,
      sink: RgbSink): Unit = {
    def clamp255(v: Int): Int = math.min(255, math.max(0, v))
    val cdh = (h + 1) / 2
    var py = 0
    while (py < h) {
      val j = py >> 1
      val jn =
        if ((py & 1) == 0) { if (j > 0) j - 1 else 0 }
        else math.min(j + 1, cdh - 1)
      val rnd = if ((py & 1) == 0) 1 else 2
      var px = 0
      while (px < w) {
        val cbv = (3 * (cbPlane(j * cwPad + px) & 0xFF) +
          (cbPlane(jn * cwPad + px) & 0xFF) + rnd) >> 2
        val crv = (3 * (crPlane(j * cwPad + px) & 0xFF) +
          (crPlane(jn * cwPad + px) & 0xFF) + rnd) >> 2
        val yv = yPlane(py * yW + px) & 0xFF
        val cbx = cbv - 128
        val crx = crv - 128
        val rv = clamp255(yv + ((91881 * crx + 32768) >> 16))
        val gv = clamp255(yv + ((-22554 * cbx - 46802 * crx + 32768) >> 16))
        val bv = clamp255(yv + ((116130 * cbx + 32768) >> 16))
        sink.pixel(px, py, yv, cbv, crv, rv, gv, bv)
        px += 1
      }
      py += 1
    }
  }

  /** COLOR PROGRESSIVE (SOF2 multi-component) decode — round 16, the rung
    * the round-15 verdict named the single biggest real-corpus gap (real
    * web JPEGs are majority progressive AND overwhelmingly color): the
    * shared Annex G engine accumulates per-COMPONENT coefficient planes
    * across scans (interleaved DC scans walk MCUs over the padded grids
    * with per-component predictors; non-interleaved AC/DC scans walk the
    * owning component's real blocks), then one dequant + IDCT emission
    * feeds the SAME pixel folds as baseline color — the 4:4:4 per-pixel
    * stream or the subsampled plane fill + the geometry's upsample fold
    * ([[foldSubsampledPlanes]]: h2v2 / h2v1 / h1v2).
    * `n_ac_coeffs` counts nonzero AC entries of the finished planes, the
    * progressive analogue of the baseline's per-scan count (every planted
    * coefficient ends nonzero, so the fixtures agree across tiers).
    */
  private def decodeColorProgressive(p: Array[Byte], sosAt: Int, w: Int, h: Int,
      hsY: Int, vsY: Int, compId: Array[Int], compQ: Array[Int],
      quant: Array[Array[Int]], dcTabs: Array[JHuff], acTabs: Array[JHuff],
      ri: Int, mk: (Int, Int) => RgbSink): ColorOut = {
    val mcuPxW = 8 * hsY
    val mcuPxH = 8 * vsY
    val mcuW = (w + mcuPxW - 1) / mcuPxW
    val mcuH = (h + mcuPxH - 1) / mcuPxH
    val nMcus = mcuW.toLong * mcuH
    // per-component geometry: Y real blocks cover the image; chroma real
    // blocks cover the SUBSAMPLED dims (per-axis ceil by the Y factor);
    // padded grids are MCU multiples (differ from real when w or h is not
    // an MCU multiple — the interleaved DC scan codes pad blocks, AC scans
    // skip them, and emission never reads their out-of-geometry pixels)
    val cw = (w + hsY - 1) / hsY
    val ch = (h + vsY - 1) / vsY
    // allocate-before-validate, BEFORE the planes exist: a DC scan spends
    // ≥ 1 bit per data unit of every component, and entropy data lives
    // after the first SOS — header bytes cannot vouch for plane mass
    val yPadBlocks = (mcuW.toLong * hsY) * (mcuH.toLong * vsY)
    val totalBlocks = yPadBlocks + 2L * nMcus
    if (totalBlocks > 8L * (p.length - sosAt))
      return new ColorOut(w, h, nMcus, false, 0L)
    val comps = Array(
      new PComp(hsY, vsY, compQ(0), (w + 7) / 8, (h + 7) / 8,
        mcuW * hsY, mcuH * vsY),
      new PComp(1, 1, compQ(1), (cw + 7) / 8, (ch + 7) / 8, mcuW, mcuH),
      new PComp(1, 1, compQ(2), (cw + 7) / 8, (ch + 7) / 8, mcuW, mcuH))
    runProgressiveScans(p, sosAt, comps, compId, quant, dcTabs, acTabs,
      ri, mcuW, mcuH) match {
      case ScanNoScan => null
      case ScanCorrupt => new ColorOut(w, h, nMcus, false, 0L)
      case ScanOk =>
        val sink = mk(w, h)
        var nAc = 0L
        val coef = new Array[Int](64)
        // dequant one block of component `c` at padded (bx, by) into
        // `coef`; returns the hasAc flag and counts nonzero AC entries
        def dequantBlock(c: PComp, bx: Int, by: Int): Boolean = {
          // first-scan latched table, not the stream's last DQT (advice
          // r16 #2; see PComp.latchedQt)
          val qt = if (c.latchedQt != null) c.latchedQt else quant(c.tq)
          val base = (by * c.bwPad + bx) * 64
          var hasAc = false
          var k = 0
          while (k < 64) {
            val v = c.coefs(base + k).toInt
            coef(k) = v * qt(k)
            if (k > 0 && v != 0) { hasAc = true; nAc += 1 }
            k += 1
          }
          hasAc
        }
        def clamp255(v: Int): Int = math.min(255, math.max(0, v))
        if (hsY == 1 && vsY == 1) {
          // 4:4:4: all three planes share the real grid; reconstruct the
          // three aligned blocks and fold in-geometry pixels per block
          val yC = new Array[Int](64)
          val cbC = new Array[Int](64)
          val crC = new Array[Int](64)
          val bw = comps(0).bwReal
          val bh = comps(0).bhReal
          var by = 0
          while (by < bh) {
            var bx = 0
            while (bx < bw) {
              val yHas = dequantBlock(comps(0), bx, by)
              System.arraycopy(coef, 0, yC, 0, 64)
              val cbHas = dequantBlock(comps(1), bx, by)
              System.arraycopy(coef, 0, cbC, 0, 64)
              val crHas = dequantBlock(comps(2), bx, by)
              System.arraycopy(coef, 0, crC, 0, 64)
              var yy = 0
              while (yy < 8) {
                val py = by * 8 + yy
                if (py < h) {
                  var xx = 0
                  while (xx < 8) {
                    val px = bx * 8 + xx
                    if (px < w) {
                      val yv = pixelOf(yC, yHas, xx, yy)
                      val cbv = pixelOf(cbC, cbHas, xx, yy)
                      val crv = pixelOf(crC, crHas, xx, yy)
                      val cbx2 = cbv - 128
                      val crx2 = crv - 128
                      val rv = clamp255(yv + ((91881 * crx2 + 32768) >> 16))
                      val gv = clamp255(
                        yv + ((-22554 * cbx2 - 46802 * crx2 + 32768) >> 16))
                      val bv = clamp255(yv + ((116130 * cbx2 + 32768) >> 16))
                      sink.pixel(px, py, yv, cbv, crv, rv, gv, bv)
                    }
                    xx += 1
                  }
                }
                yy += 1
              }
              bx += 1
            }
            by += 1
          }
        } else {
          // subsampled: reconstruct every padded block into the sample
          // planes, then run the geometry's upsample fold (it needs
          // cross-block chroma neighbors, so the fold cannot run per block)
          val yW = mcuPxW * mcuW
          val cwPad = 8 * mcuW
          val yPlane = new Array[Byte](yW * mcuPxH * mcuH)
          val cbPlane = new Array[Byte](cwPad * 8 * mcuH)
          val crPlane = new Array[Byte](cwPad * 8 * mcuH)
          def fillPlane(c: PComp, plane: Array[Byte], pw: Int): Unit = {
            var by = 0
            while (by < c.bhPad) {
              var bx = 0
              while (bx < c.bwPad) {
                val hasAc = dequantBlock(c, bx, by)
                var yy = 0
                while (yy < 8) {
                  var xx = 0
                  while (xx < 8) {
                    plane((by * 8 + yy) * pw + bx * 8 + xx) =
                      pixelOf(coef, hasAc, xx, yy).toByte
                    xx += 1
                  }
                  yy += 1
                }
                bx += 1
              }
              by += 1
            }
          }
          fillPlane(comps(0), yPlane, yW)
          fillPlane(comps(1), cbPlane, cwPad)
          fillPlane(comps(2), crPlane, cwPad)
          foldSubsampledPlanes(hsY, vsY, yPlane, cbPlane, crPlane, yW, cwPad,
            w, h, sink)
        }
        new ColorOut(w, h, nMcus, true, nAc)
    }
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
    val p = math.round(s / 4).toInt + 128
    math.min(255, math.max(0, p))
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
