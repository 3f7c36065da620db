package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Hashed-shingle kernels for the dedup family.
  *
  * The set-similarity pipeline only ever consumes shingles through their
  * 64-bit hashes: postings join on the hash, MinHash/SimHash sketch the
  * hash, and the exact rescore needs intersection *sizes*, not the strings.
  * Materializing an array<string> of shingles per document and re-hashing
  * it row-by-row in the posting explode (plus a per-candidate string
  * `array_intersect` in the rescore) paid the string cost three times.
  *
  * [[WordShingleHashes]] fuses shingling and hashing: one compiled pass
  * over the document bytes emits the SORTED DISTINCT xxhash64 values of
  * the word n-grams — each hash computed directly on the byte span (the
  * n-gram "w_i ... w_{i+n-1}" joined by single spaces IS the input's span
  * from the start of w_i to the end of w_{i+n-1}, the same zero-copy trick
  * as [[WordShingles]]), bit-identical to builtin `xxhash64(shingle)`
  * (seed 42). Distinct-by-hash equals distinct-by-string up to 64-bit
  * collisions, which the whole hashed-posting design already accepts
  * (a collision can only add a spurious candidate or perturb one
  * intersection count with probability ~2^-64 per pair).
  *
  * [[SortedIntersectCount]] is the rescore's other half: an O(n+m) merge
  * walk over two sorted distinct long arrays inside whole-stage codegen —
  * replacing `size(array_intersect(strings))`, which builds a hash set of
  * strings per candidate pair.
  */
case class WordShingleHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle width must be positive")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_word_shingle_hashes expects a string input, got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(t: Any): Any =
    WordShingleHashes.compute(t.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingleHashes.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_word_shingle_hashes"
}

object WordShingleHashes {

  /** Seed of the builtin xxhash64 expression — keeps kernel output equal to
    * `xxhash64(shingle_string)` so either formulation can feed the postings.
    */
  val xxhashSeed = 42L

  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // token i spans [starts(i), ends(i)); split-with-empties semantics,
    // same boundary scan as WordShingles (0x20 is never a continuation byte)
    var nTokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' '.toByte) nTokens += 1; i += 1 }
    if (nTokens < n) return empty
    val starts = new Array[Int](nTokens)
    val ends = new Array[Int](nTokens)
    starts(0) = 0
    var tok = 0
    i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) {
        ends(tok) = i
        tok += 1
        starts(tok) = i + 1
      }
      i += 1
    }
    ends(tok) = len
    val nGrams = nTokens - n + 1
    val hs = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      val from = starts(g)
      hs(g) = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + from, ends(g + n - 1) - from, xxhashSeed)
      g += 1
    }
    // sorted distinct in place: sort, then compact adjacent duplicates
    java.util.Arrays.sort(hs)
    var w = 1
    i = 1
    while (i < nGrams) {
      if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    val out = new Array[Any](w)
    i = 0
    while (i < w) { out(i) = hs(i); i += 1 }
    new GenericArrayData(out)
  }

  private val empty = new GenericArrayData(Array.empty[Any])
}

/** Size-adaptive intersect algorithms behind [[SortedIntersectCount]] —
  * a top-level object so whole-stage-codegen'd call sites reach it through
  * a plain static forwarder.
  *
  * The bottom-k estimator GATE intersects a ≤16-element sampled prefix
  * against a full document array — at production document sizes (hundreds
  * to thousands of shingles) the former always-linear merge walked the
  * whole big side per candidate pair, making the gate O(|doc|) instead of
  * O(k·log|doc|) on exactly the operation candidate mass multiplies. When
  * one side is ≥8× smaller (probe cost 2·ns·log₂(gap) beats the ns+nb
  * merge from ~8× on), each small-side element now GALLOPS (exponential
  * overshoot + binary search, resuming where the previous probe landed).
  * Balanced sizes keep the branch-free linear merge — including the bench
  * fixtures' ~52-shingle documents, where 16-vs-52 is below the crossover
  * and the rescore cost is candidate volume, not merge length (measured:
  * the kernel swap moved the sf0.1 rescore ≤8%). Counts are identical on
  * sorted DISTINCT inputs (the callers' contract): lowerBound finds
  * exactly the merge's match positions.
  */
object SortedIntersect {
  def count(x: ArrayData, y: ArrayData): Int = {
    val n1 = x.numElements()
    val n2 = y.numElements()
    if (n1 == 0 || n2 == 0) 0
    else if (n1.toLong << 3 <= n2) probe(x, n1, y, n2)
    else if (n2.toLong << 3 <= n1) probe(y, n2, x, n1)
    else merge(x, n1, y, n2)
  }

  private def merge(x: ArrayData, n1: Int, y: ArrayData, n2: Int): Int = {
    var i = 0
    var j = 0
    var c = 0
    while (i < n1 && j < n2) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** First index in [from, to) whose value is ≥ v (to if none). */
  private def lowerBound(b: ArrayData, from: Int, to: Int, v: Long): Int = {
    var lo = from
    var hi = to
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (b.getLong(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def probe(s: ArrayData, ns: Int, b: ArrayData, nb: Int): Int = {
    var c = 0
    var base = 0
    var i = 0
    while (i < ns && base < nb) {
      val v = s.getLong(i)
      var bound = 1
      while (base + bound < nb && b.getLong(base + bound) < v) bound <<= 1
      val hi = math.min(base + bound + 1, nb)
      val p = lowerBound(b, base, hi, v)
      if (p < nb && b.getLong(p) == v) { c += 1; base = p + 1 }
      else base = p
      i += 1
    }
    c
  }
}

/** Count of common elements between two SORTED distinct long arrays
  * (size-adaptive: linear merge, or galloping probes when one side is much
  * smaller — see [[SortedIntersect]]). Callers guarantee sortedness
  * ([[WordShingleHashes]] emits sorted output); unsorted input undercounts
  * rather than erroring, matching the cheapness contract of a hot-loop
  * kernel.
  */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_intersect_count expects array<bigint> inputs, " +
          s"got ${left.dataType} / ${right.dataType}")
    }
  }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersect.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      // one static call per row into the size-adaptive kernel — the arrays
      // are hundreds of elements, so call overhead is noise next to the
      // probe-vs-merge algorithmic choice the helper makes
      s"${ev.value} = graft.functions.SortedIntersect.count($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_intersect_count"
}

/** Count of agreeing BYTE LANES between two packed-byte signature arrays
  * (each long holds eight lanes; lane = low byte of one MinHash minimum,
  * see Dedup.withSigBytes). Two docs agree on a lane iff their minima
  * agree (probability = Jaccard) or the low bytes collide anyway
  * (probability (1−j)/256 — inflation only, so a keep-if-at-least
  * prefilter can only keep MORE, never lose a true pair to the collision
  * term). agree/lanes is therefore a Jaccard estimator with
  * σ = sqrt(j(1−j)/lanes) ≤ 1/16 at 64 lanes — the cheap per-pair test
  * that guards the array rescore at scale.
  *
  * Per long the zero bytes of xor(a,b) are counted with the exact SWAR
  * zero-byte detector (Hacker's Delight 6-1: no inter-byte carries, no
  * false positives): y = (x & 0x7F..7F) + 0x7F..7F; bit 7 of each byte of
  * ~(y | x | 0x7F..7F) is set iff that byte of x is zero; popcount gives
  * the lane count. Compares min(|a|,|b|) longs, so schema-evolved rows
  * with absent arrays undercount rather than erroring (callers null-guard).
  */
case class ByteLaneAgree(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_byte_lane_agree expects array<bigint> inputs, " +
          s"got ${left.dataType} / ${right.dataType}")
    }
  }

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    ByteLaneAgree.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ByteLaneAgree.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteLaneAgree =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_byte_lane_agree"
}

object ByteLaneAgree {
  private val Low7 = 0x7F7F7F7F7F7F7F7FL

  def compute(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      val x = a.getLong(i) ^ b.getLong(i)
      val y = ~(((x & Low7) + Low7) | x | Low7)
      c += java.lang.Long.bitCount(y)
      i += 1
    }
    c
  }
}

/** All `k` MinHash minima of a hashed-shingle set in ONE compiled pass
  * over the row's array — no posting explode, no per-doc shuffle, no
  * aggregate machinery. Bit-identical to the aggregate formulation
  * `min(xxhash64(h, i))` over the exploded postings: the builtin
  * `xxhash64(h, i)` left-folds XXH64 over its children from seed 42, i.e.
  * `hashInt(i, hashLong(h, 42))` for an Int salt literal, and the inner
  * `hashLong(h, 42)` is hoisted out of the k-loop here (the aggregate
  * form recomputes it k times per posting row). An earlier expression-level one-pass attempt
  * (64 nested array transforms) blew the codegen method limit and fell
  * back to interpreted eval — a kernel has no such cliff.
  *
  * Returns NULL for an empty set: in the explode formulation a shingle-less
  * doc produces no posting rows and silently vanishes from the signature
  * frame, and callers keep that contract by filtering the null out.
  */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1 && k <= 1024, s"signature width out of range: $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_minhash_signature expects array<bigint>, got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true // empty set -> null

  override def nullSafeEval(a: Any): Any =
    MinHashSignature.compute(a.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashSignature.compute($c, $k);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_signature"
}

object MinHashSignature {

  /** Null (not an empty array) for an empty input set — see class doc. */
  def compute(in: ArrayData, k: Int): ArrayData = {
    val n = in.numElements()
    if (n == 0) return null
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var idx = 0
    while (idx < n) {
      val base = XXH64.hashLong(in.getLong(idx), WordShingleHashes.xxhashSeed)
      var i = 0
      while (i < k) {
        // hashInt, not hashLong: the aggregate formulation wrote the salt
        // as an Int literal, and the builtin dispatches the fold step on
        // the child's type — parity demands the same step here
        val v = XXH64.hashInt(i, base)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      idx += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) { out(i) = mins(i); i += 1 }
    new GenericArrayData(out)
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object ShingleHashFunctions {

  val shingleHashesName = "graft_word_shingle_hashes"
  val intersectName = "graft_sorted_intersect_count"
  val minHashSigName = "graft_minhash_signature"
  val byteLaneAgreeName = "graft_byte_lane_agree"

  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)

  def wordShingleHashes(text: Column, n: Int): Column =
    call_function(shingleHashesName, text, org.apache.spark.sql.functions.lit(n))

  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function(intersectName, a, b)

  def minHashSignature(shh: Column, k: Int): Column =
    call_function(minHashSigName, shh, org.apache.spark.sql.functions.lit(k))

  def byteLaneAgree(a: Column, b: Column): Column =
    call_function(byteLaneAgreeName, a, b)
}
