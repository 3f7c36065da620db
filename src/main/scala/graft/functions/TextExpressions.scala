package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word-shingling kernel. The built-in formulation —
  * `array_distinct(transform(sequence(...), i -> concat_ws(" ",
  * element_at(toks, i), ...)))` — evaluates three interpreted expressions
  * per gram position inside a higher-order lambda, plus a string-equality
  * distinct pass; measured at ~0.5 ms/document, it dominated every
  * shingle-based dedup query.
  *
  * [[WordShingles]] exploits that tokens come from a SINGLE-SPACE split:
  * the n-gram "w_i w_{i+1} ... w_{i+n-1}" joined by single spaces is
  * byte-identical to the input's span from the start of w_i to the end of
  * w_{i+n-1}. So one compiled pass finds the space positions and emits
  * deduplicated zero-copy-ish slices — semantically identical to the HOF
  * chain (split-with-empties, first-occurrence distinct) and to the DuckDB
  * oracle's string_split formulation, at scan speed.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle width must be positive")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_word_shingles expects a string input, got $other")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(t: Any): Any =
    WordShingles.compute(t.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "graft_word_shingles"
}

object WordShingles {

  /** One pass: locate single-space token boundaries (split-with-empties
    * semantics, i.e. Java `split(" ", -1)`), slice each n-token span, and
    * keep first occurrences. A space byte (0x20) is never a UTF-8
    * continuation byte, so byte scanning is multibyte-safe.
    */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    // token i spans [starts(i), ends(i)); tokens = spaces + 1
    var nTokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' '.toByte) nTokens += 1; i += 1 }
    if (nTokens < n) return WordShingles.empty
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
    val seen = new java.util.LinkedHashSet[UTF8String](nTokens * 2)
    var g = 0
    while (g <= nTokens - n) {
      val from = starts(g)
      val until = ends(g + n - 1)
      seen.add(UTF8String.fromBytes(bytes, from, until - from))
      g += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  private val empty = new GenericArrayData(Array.empty[Any])
}

/** Gopher repetition statistics over a document's token array — native
  * kernel twin of the explode → groupBy(doc_id, gram) → groupBy(doc_id)
  * cascade [[graft.text.TextAnalysis.repetitionGates]] shipped through
  * round 9. The statistics (most-frequent unigram/bigram count, hapax
  * count, token totals) are DOCUMENT-LOCAL: shuffling the entire exploded
  * token stream twice (unigrams + bigrams, ~n_tokens rows each) purely to
  * count within-document frequencies is exactly the avoidable-shuffle
  * shape a 100 TB corpus cannot afford. One compiled pass per row with two
  * per-document hash tables replaces four shuffles with zero.
  *
  * Returns null when the document has no tokens (the groupBy cascade
  * emitted no row — callers filter), and null bigram fields for
  * single-token documents (the bigram side's left join came back empty).
  * Bigram identity: tokens come from a whitespace split, so the
  * space-joined pair "w1 w2" is collision-free as a hash key.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_repetition_stats expects an array<string> of tokens, got $other")
    }

  override def dataType: DataType = RepetitionStats.outType

  override def nullable: Boolean = true

  override def nullSafeEval(t: Any): Any =
    RepetitionStats.compute(t.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.RepetitionStats.compute($c);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)

  override def prettyName: String = "graft_repetition_stats"
}

object RepetitionStats {

  val outType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("top_uni", LongType, nullable = false),
    StructField("n_hapax", LongType, nullable = false),
    StructField("n_bigrams", LongType),
    StructField("top_big", LongType)))

  /** null for an empty token array (no row in the groupBy formulation).
    *
    * Counting layout (r18, per-task work §1.2): tokens intern to DENSE int
    * ids (one boxed Integer per DISTINCT token at insert; the former
    * `HashMap.merge` boxed a fresh Long per OCCURRENCE), unigram counts
    * live in a flat long[] indexed by id, and the bigram pass keys the
    * EXACT id pair packed into one long — no concatenated string is ever
    * built (the former form allocated a UTF8String per adjacent pair).
    * Id-pair equality IS string-pair equality (interning is exact), so
    * counts are bit-identical to the string-keyed form.
    */
  def compute(toks: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    if (n == 0) return null
    val ids = new java.util.HashMap[UTF8String, Integer](n * 2)
    val cnt = new Array[Long](n)
    val seq = new Array[Int](n)
    var nextId = 0
    var topUni = 0L
    var i = 0
    while (i < n) {
      val w = toks.getUTF8String(i)
      var id = ids.get(w)
      if (id == null) {
        id = Integer.valueOf(nextId)
        ids.put(w, id)
        nextId += 1
      }
      val v = cnt(id.intValue()) + 1L
      cnt(id.intValue()) = v
      seq(i) = id.intValue()
      if (v > topUni) topUni = v
      i += 1
    }
    var hapax = 0L
    i = 0
    while (i < nextId) { if (cnt(i) == 1L) hapax += 1; i += 1 }
    val out = new Array[Any](5)
    out(0) = java.lang.Long.valueOf(n.toLong)
    out(1) = java.lang.Long.valueOf(topUni)
    out(2) = java.lang.Long.valueOf(hapax)
    if (n >= 2) {
      // open-addressed long->long table over packed (id1 << 32 | id2);
      // ids < n <= Int.MaxValue, so the packing is injective. EMPTY = -1
      // (never a valid packed pair: id1 would need the sign bit).
      var cap = java.lang.Integer.highestOneBit(math.max(8, (n - 1) * 2) - 1) << 1
      if (cap < 8) cap = 8
      val msk = cap - 1
      val keys = new Array[Long](cap)
      java.util.Arrays.fill(keys, -1L)
      val vals = new Array[Long](cap)
      var topBig = 0L
      i = 0
      while (i < n - 1) {
        val k = (seq(i).toLong << 32) | seq(i + 1).toLong
        var z = k * -7046029254386353131L
        z = (z ^ (z >>> 32))
        var s = (z & msk).toInt
        while (keys(s) != -1L && keys(s) != k) s = (s + 1) & msk
        keys(s) = k
        val v = vals(s) + 1L
        vals(s) = v
        if (v > topBig) topBig = v
        i += 1
      }
      out(3) = java.lang.Long.valueOf(n.toLong - 1L)
      out(4) = java.lang.Long.valueOf(topBig)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
}

/** Native canonical-normalization kernel (round-14): the expression form
  * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""),
  * " +", " "))` runs TWO java.util.regex passes per document — the sf1000
  * e2e probe's thread dump put 18 of 32 workers inside `Pattern.match`
  * during the verdict's fingerprint stage, making regex the fourth
  * decade's dominant CPU sink (~65 GB of text through the NFA twice).
  *
  * Exact-parity replacement: lowercase via UTF8String.toLowerCase (the
  * SAME call Spark's `lower` makes under the default UTF8_BINARY
  * collation — so Kelvin K → k and every other Unicode mapping agree),
  * then ONE byte walk. The walk is correct on UTF-8 bytes because every
  * SURVIVING character is single-byte ASCII: `[^a-z0-9 ]` deletes any
  * other code point, and a multibyte sequence's bytes all have the high
  * bit set, so byte-level filtering deletes exactly the code points the
  * regex deletes. Deleted characters between spaces merge the space run,
  * matching strip-then-collapse order; leading/trailing spaces are never
  * emitted, matching the final `trim`. KernelPropertySpec pins
  * bit-identity to the expression composition on adversarial inputs; the
  * DuckDB oracle mirror ([[graft.text.TextAnalysis.normalizeSql]]) is
  * unchanged, so every fingerprint oracle still hash-checks the result.
  */
case class NormalizeText(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_normalize_text expects a string input, got $other")
    }

  override def dataType: DataType = StringType

  override def nullSafeEval(t: Any): Any =
    NormalizeText.compute(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NormalizeText.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)

  override def prettyName: String = "graft_normalize_text"
}

object NormalizeText {

  def compute(text: UTF8String): UTF8String = {
    val b = text.toLowerCase.getBytes
    val out = new Array[Byte](b.length)
    var o = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        out(o) = c
        o += 1
        pendingSpace = false
      } else if (c == ' ') pendingSpace = true
      // any other byte (punctuation, control, every multibyte byte) is
      // deleted — it neither emits nor clears a pending space, exactly
      // the strip-then-collapse composition
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object TextFunctions {

  val shinglesName = "graft_word_shingles"
  val repetitionName = "graft_repetition_stats"
  val normalizeName = "graft_normalize_text"

  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)

  /** Column-level handle (n baked in as a literal). */
  def wordShingles(text: Column, n: Int): Column =
    call_function(shinglesName, text, org.apache.spark.sql.functions.lit(n))

  def repetitionStats(toks: Column): Column =
    call_function(repetitionName, toks)

  def normalizeText(text: Column): Column =
    call_function(normalizeName, text)
}
