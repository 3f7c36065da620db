package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE tokenizer accounting (kernel 12) — the compiled twin of
  * [[graft.text.Bpe]]'s expression fold. The expression form re-evaluated
  * an interpreted six-way `array_contains(substr)` probe chain per
  * character, and Catalyst cannot CSE the per-word codes through lambda
  * bodies, so every counting column re-derived them from scratch.
  * Tokenization is a training-data pipeline's innermost loop: at 100 TB it
  * must run at scan speed as a row-local compiled pass, which is exactly
  * how production tokenizers (HF tokenizers, SentencePiece) are built.
  *
  * Bit-identical semantics to the DuckDB mirror:
  *  - words are `[a-z]+` runs of `lower(text)` (UTF8String.toLowerCase IS
  *    Spark's `lower`, as in [[LangIdHits]]);
  *  - each word encodes by MERGE-PRIORITY REPLAY (round 16, retiring the
  *    maximal-munch approximation): repeatedly merge the adjacent symbol
  *    pair with the LOWEST merge rank, leftmost occurrence first, until no
  *    learned pair remains. This is exactly what applying the trainer's
  *    merge list in order does — a merge can only create pairs of HIGHER
  *    rank than itself (pair (x, ab) could only be learned after ab
  *    existed, i.e. after merge (a, b)), so the rank-ordered fixpoint and
  *    the sequential replay coincide; it is also how subword-nmt's
  *    apply_bpe and HF tokenizers encode, and it diverges from maximal
  *    munch on boundary-crossing sequences (munch grabs the longest PIECE
  *    even when no merge chain reaches it — e.g. pieces {ab, abc(=a+bc)}:
  *    "abcd" munches abc|d but tokenizes ab|c|d, because rank(a,b) <
  *    rank(b,c) consumes the b first). BpeSpec pins the kernel
  *    token-for-token against sequential trainer application. Pair-rank
  *    lookups are boxing-free: the pair's CONCAT is a contiguous span of
  *    the word, packed left-aligned into two longs (pieces ≤ 16 ASCII
  *    letters), keyed with the split position in an open-addressing table;
  *    per-pair ranks are cached along the word and only the two pairs
  *    adjacent to a merge recompute;
  *  - "other" tokens are digit runs plus every single non-[a-z0-9\s]
  *    code point, with `\s` being RE2's whitespace class [ \t\n\f\r] —
  *    the oracle's regex engine; vertical tab counts as a symbol (Java's
  *    `\s` would swallow it, silently diverging the engines) — a leading
  *    UTF-8 byte identifies one code point, so the byte scan counts
  *    exactly what the regex alternation matched.
  */
case class BpeCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_counts expects a string input, got $other")
  }

  override def dataType: DataType = BpeCounts.outType

  override def nullSafeEval(t: Any): Any =
    BpeCounts.compute(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeCounts.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): BpeCounts =
    copy(child = newChild)

  override def prettyName: String = "graft_bpe_counts"
}

object BpeCounts {

  val outType: StructType = StructType(Seq(
    StructField("n_bpe", LongType, nullable = false),
    StructField("n_merged", LongType, nullable = false),
    StructField("n_other", LongType, nullable = false)))

  /** Open-addressing map from merge pairs to their rank: the key is the
    * pair's CONCATENATION packed big-endian LEFT-ALIGNED into (hi, lo) —
    * bytes 0..7 into the top of `hi`, 8..15 into the top of `lo`,
    * zero-padded (the first byte is always ≥ 'a', so hi == 0 marks an
    * empty slot, and zero-padding is unambiguous across lengths) — PLUS
    * the split position, because two different merges can produce the same
    * piece (a+bc and ab+c both make abc). Lookup is three array reads per
    * linear-probe step — no boxing, no string building (the concat of two
    * ADJACENT symbols is a contiguous span of the word's bytes).
    */
  private object Ranks {
    private val merges = graft.text.Bpe.merges
    private val cap = Integer.highestOneBit(math.max(16, merges.size * 4) - 1) << 1
    private val msk = cap - 1
    private val his = new Array[Long](cap)
    private val los = new Array[Long](cap)
    private val sps = new Array[Int](cap)
    private val rks = new Array[Int](cap)
    private def slot(hi: Long, lo: Long, sp: Int): Int = {
      var z = hi * 0x9E3779B97F4A7C15L ^ lo * 0xC2B2AE3D27D4EB4FL ^
        sp.toLong * 0xD6E8FEB86659FD93L
      z = (z ^ (z >>> 29)) * 0xBF58476D1CE4E5B9L
      ((z ^ (z >>> 32)) & msk).toInt
    }
    locally {
      var r = 0
      merges.foreach { case (a, bb) =>
        val p = a + bb
        require(p.length <= 16 && p.forall(c => c >= 'a' && c <= 'z'),
          s"merge pair '$a $bb' breaks the kernel's 16-ASCII-letter packing bound")
        var hi = 0L; var lo = 0L
        var j = 0
        while (j < p.length) {
          val bv = p.charAt(j).toLong & 0xFFL
          if (j < 8) hi |= bv << ((7 - j) * 8) else lo |= bv << ((15 - j) * 8)
          j += 1
        }
        var s = slot(hi, lo, a.length)
        while (his(s) != 0L &&
          !(his(s) == hi && los(s) == lo && sps(s) == a.length)) s = (s + 1) & msk
        if (his(s) == 0L) { // a duplicate pair keeps its FIRST (lowest) rank
          his(s) = hi; los(s) = lo; sps(s) = a.length; rks(s) = r
        }
        r += 1
      }
    }
    /** Rank of the pair spanning b[off, off+tot) split at `sp` letters;
      * Int.MaxValue when the pair is not a learned merge.
      */
    def rankOf(b: Array[Byte], off: Int, tot: Int, sp: Int): Int = {
      if (tot > 16) return Int.MaxValue
      var hi = 0L; var lo = 0L
      var j = 0
      while (j < tot) {
        val bv = b(off + j) & 0xFFL
        if (j < 8) hi |= bv << ((7 - j) * 8) else lo |= bv << ((15 - j) * 8)
        j += 1
      }
      var s = slot(hi, lo, sp)
      while (his(s) != 0L) {
        if (his(s) == hi && los(s) == lo && sps(s) == sp) return rks(s)
        s = (s + 1) & msk
      }
      Int.MaxValue
    }
  }

  /** Reusable replay scratch: symbol linked list + current pair ranks +
    * a lazy-deletion binary min-heap of packed (rank << 32 | leftStart)
    * entries. One instance per counting row, grown to the longest letter
    * run encountered (the same reuse discipline the old starts/prk pair
    * had).
    */
  private[graft] final class BpeScratch {
    var nxt: Array[Int] = new Array[Int](0)
    var prv: Array[Int] = new Array[Int](0)
    var rnk: Array[Int] = new Array[Int](0)
    private var heap: Array[Long] = new Array[Long](0)
    var hn = 0
    def ensure(n: Int): Unit = if (nxt.length < n + 1) {
      nxt = new Array[Int](n + 1); prv = new Array[Int](n + 1)
      rnk = new Array[Int](n + 1); heap = new Array[Long](3 * n + 8)
    }
    def push(v: Long): Unit = {
      var i = hn; heap(i) = v; hn += 1
      while (i > 0 && heap((i - 1) >> 1) > heap(i)) {
        val pa = (i - 1) >> 1
        val t = heap(i); heap(i) = heap(pa); heap(pa) = t
        i = pa
      }
    }
    def pop(): Long = {
      val top = heap(0); hn -= 1; heap(0) = heap(hn)
      var i = 0
      var done = false
      while (!done) {
        var c = 2 * i + 1
        if (c >= hn) done = true
        else {
          if (c + 1 < hn && heap(c + 1) < heap(c)) c += 1
          if (heap(i) <= heap(c)) done = true
          else { val t = heap(i); heap(i) = heap(c); heap(c) = t; i = c }
        }
      }
      top
    }
  }

  /** Merge-priority replay over one [a-z]+ run b[start, end): fills
    * `starts` (caller-sized ≥ len+1) with the final token boundaries and
    * returns the token count m (boundaries starts(0..m), starts(m) = end).
    *
    * The lowest-rank-pair selection runs through `sc`'s lazy-deletion heap
    * (advice r16 #1 — the retired linear rescan made a single megabyte
    * [a-z]+ run O(L²) when any (x,x) merge is learned): pairs are keyed
    * (rank << 32 | leftStart), so Long ordering IS (rank, leftmost) — the
    * exact tie-break of the old scan — and left-symbol start offsets never
    * move (boundaries only get removed), so stale entries are detected by
    * `rnk(p) != rank` alone. The one stale-entry case that check cannot
    * see — a recomputed pair landing on the SAME rank — implies the same
    * merge product at the same split (loadShippedMerges enforces
    * no-duplicate-product), i.e. a byte-identical pair whose merge action
    * is the one the fresh entry would take; popping the stale twin first
    * is therefore behavior-identical. Each merge pushes ≤ 2 entries, so
    * the heap is ≤ 3·L and the replay O(L log L) on ANY input.
    */
  private[graft] def encodeWord(b: Array[Byte], start: Int, end: Int,
      starts: Array[Int], sc: BpeScratch): Int = {
    val n = end - start
    var i = 0
    while (i <= n) { starts(i) = start + i; i += 1 }
    if (n < 2) return n
    sc.ensure(n)
    val nxt = sc.nxt; val prv = sc.prv; val rnk = sc.rnk
    sc.hn = 0
    var p = 0
    while (p < n) {
      nxt(p) = p + 1; prv(p) = p - 1; rnk(p) = Int.MaxValue
      p += 1
    }
    p = 0
    while (p < n - 1) {
      val r = Ranks.rankOf(b, start + p, 2, 1)
      rnk(p) = r
      if (r != Int.MaxValue) sc.push((r.toLong << 32) | p)
      p += 1
    }
    while (sc.hn > 0) {
      val e = sc.pop()
      val r = (e >>> 32).toInt
      val li = (e & 0xFFFFFFFFL).toInt
      // alive (nxt >= 0) and current (rank unchanged) — else a stale entry
      if (nxt(li) >= 0 && rnk(li) == r) {
        val q = nxt(li) // right symbol's start: the boundary this merge drops
        val s = nxt(q)
        nxt(q) = -1 // dead marker
        nxt(li) = s
        rnk(li) = Int.MaxValue
        if (s < n) {
          prv(s) = li
          // new right-neighbor pair (li, s): spans [li, nxt(s)), split at s
          val nr = Ranks.rankOf(b, start + li, nxt(s) - li, s - li)
          rnk(li) = nr
          if (nr != Int.MaxValue) sc.push((nr.toLong << 32) | li)
        }
        val l = prv(li)
        if (l >= 0) {
          // left-neighbor pair (l, li): spans [l, s), split at li
          val nr = Ranks.rankOf(b, start + l, s - l, li - l)
          rnk(l) = nr
          if (nr != Int.MaxValue) sc.push((nr.toLong << 32) | l)
        }
      }
    }
    var m = 0
    p = 0
    while (p < n) { starts(m) = start + p; m += 1; p = nxt(p) }
    starts(m) = end
    m
  }

  /** Test-visible token sequence for one lowercase word — the same replay
    * core [[encodeWord]] runs in the counting scan, surfaced for BpeSpec's
    * token-for-token parity pin against sequential trainer application.
    */
  private[graft] def encodeTokens(word: String): Seq[String] = {
    val b = word.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val starts = new Array[Int](b.length + 1)
    val m = encodeWord(b, 0, b.length, starts, new BpeScratch)
    (0 until m).map(i => word.substring(starts(i), starts(i + 1)))
  }

  /** Per-thread replay state: the scratch/boundary buffers (formerly
    * allocated per ROW) plus a word-result cache — the engine-side twin of
    * the oracle's Zipf rewrite (`replayCtes` encodes each DISTINCT word
    * once; see the object doc). Corpus words are Zipf-distributed, so most
    * occurrences repeat a recent type: keying the exact word bytes (packed
    * zero-padded into two longs — injective for [a-z]{1..16}) and storing
    * the replay's (token, merged) counts turns the heap replay into one
    * hash probe for every repeated occurrence. Results are bit-identical
    * by construction: a hit returns counts computed by the same
    * [[encodeWord]] on byte-identical input. Words longer than 16 letters
    * replay uncached (no packing bound — and past-16 types are deep-tail).
    * The table clears itself at 3/4 fill, so an adversarial vocabulary
    * degrades to recomputation, never to unbounded probe chains.
    */
  private final class ReplayState {
    val sc = new BpeScratch
    var starts: Array[Int] = new Array[Int](65)
    val whi = new Array[Long](BpeCounts.WCAP)
    val wlo = new Array[Long](BpeCounts.WCAP)
    val wres = new Array[Long](BpeCounts.WCAP)
    var fill = 0
  }

  private val WCAP = 1 << 15 // 32k word types, ~0.75 MB per pool thread
  private val WMSK = WCAP - 1
  private val states = new ThreadLocal[ReplayState] {
    override def initialValue(): ReplayState = new ReplayState
  }

  private def wslot(hi: Long, lo: Long): Int = {
    var z = hi * 0x9E3779B97F4A7C15L ^ lo * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 29)) * 0xBF58476D1CE4E5B9L
    ((z ^ (z >>> 32)) & WMSK).toInt
  }

  def compute(text: UTF8String): InternalRow = {
    val b = text.toLowerCase.getBytes
    val n = b.length
    var nBpe = 0L; var nMerged = 0L; var nOther = 0L
    val st = states.get()
    val sc = st.sc
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c >= 'a' && c <= 'z') {
        var e = i
        while (e < n && b(e) >= 'a' && b(e) <= 'z') e += 1
        val len = e - i
        if (len == 1) {
          // a single letter is always one unmerged token — no replay
          nBpe += 1
        } else if (len <= 16) {
          // cacheable word: pack, probe, replay only on miss
          var hi = 0L; var lo = 0L
          var j = i
          while (j < e) {
            val bv = b(j).toLong & 0xFFL
            val k = j - i
            if (k < 8) hi |= bv << ((7 - k) * 8) else lo |= bv << ((15 - k) * 8)
            j += 1
          }
          var s = wslot(hi, lo)
          while (st.whi(s) != 0L && !(st.whi(s) == hi && st.wlo(s) == lo))
            s = (s + 1) & WMSK
          if (st.whi(s) == hi && st.wlo(s) == lo) {
            val r = st.wres(s)
            nBpe += (r >>> 32)
            nMerged += (r & 0xFFFFFFFFL)
          } else {
            if (len + 1 > st.starts.length) st.starts = new Array[Int](len + 1)
            val starts = st.starts
            val m = encodeWord(b, i, e, starts, sc)
            nBpe += m
            var merged = 0L
            var t = 0
            while (t < m) {
              if (starts(t + 1) - starts(t) > 1) merged += 1
              t += 1
            }
            nMerged += merged
            if (st.fill >= (WCAP - (WCAP >> 2))) {
              java.util.Arrays.fill(st.whi, 0L)
              st.fill = 0
              s = wslot(hi, lo)
              while (st.whi(s) != 0L) s = (s + 1) & WMSK
            }
            st.whi(s) = hi; st.wlo(s) = lo
            st.wres(s) = (m.toLong << 32) | merged
            st.fill += 1
          }
        } else {
          if (len + 1 > st.starts.length) st.starts = new Array[Int](len + 1)
          val starts = st.starts
          val m = encodeWord(b, i, e, starts, sc)
          nBpe += m
          var t = 0
          while (t < m) {
            if (starts(t + 1) - starts(t) > 1) nMerged += 1
            t += 1
          }
        }
        i = e
      } else if (c >= '0' && c <= '9') {
        while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
        nOther += 1
      } else if (c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r') {
        // RE2's \s set (the oracle's regex engine) — Java's \s would also
        // skip \x0B, but RE2 counts VT as a symbol, and the oracle wins
        i += 1
      } else {
        // one "other" token per non-word non-digit non-\s code point; a
        // UTF-8 continuation byte is not a code point
        if ((c & 0xC0) != 0x80) nOther += 1
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](nBpe, nMerged, nOther))
  }
}

/** Total tokenizer output length (n_bpe + n_other) in ONE kernel pass.
  * Summing two getFields off separate [[BpeCounts]] references runs the
  * tokenizer twice per row wherever Catalyst's subexpression elimination
  * doesn't fire (interpreted eval, some filter contexts); this variant
  * evaluates the scan once and adds the two counters in place.
  */
case class BpeTotal(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_total expects a string input, got $other")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(t: Any): Any =
    BpeTotal.compute(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeTotal.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): BpeTotal =
    copy(child = newChild)

  override def prettyName: String = "graft_bpe_total"
}

object BpeTotal {
  def compute(text: UTF8String): Long = {
    val r = BpeCounts.compute(text)
    r.getLong(0) + r.getLong(2)
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object BpeFunctions {

  val countsName = "graft_bpe_counts"
  val totalName = "graft_bpe_total"

  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)

  def bpeCounts(text: Column): Column = call_function(countsName, text)

  def bpeTotal(text: Column): Column = call_function(totalName, text)
}
