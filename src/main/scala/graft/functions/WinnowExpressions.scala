package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
  * public algorithm): hash every byte k-gram with a Rabin-Karp rolling
  * hash, then keep the minimum hash of each window of w consecutive grams
  * (rightmost minimum on ties), recording each selection once. Guarantees:
  * at least one fingerprint per w-window, and any two documents sharing a
  * substring of ≥ w + k - 1 bytes share at least one fingerprint — the
  * copy-detection property the brief's "rolling hash fingerprinting" is
  * for. One compiled pass with a simple per-window scan (w stays small),
  * same native-kernel pattern as VecDot / WordShingles / ByteStride. Not
  * SQL-expressible → the gate query is rows-only; parity with a naive
  * reference implementation and the winnowing guarantees are pinned in
  * WinnowSpec.
  */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {

  require(k >= 1 && w >= 1, "gram size and window must be positive")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_winnow expects a string input, got $other")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(t: Any): Any =
    Winnow.compute(t.asInstanceOf[UTF8String], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Winnow.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow"
}

object Winnow {

  /** Rabin-Karp base; odd so multiplication stays a bijection mod 2^64. */
  val base = 1000003L
  private def pow(b: Long, e: Int): Long = {
    var r = 1L; var i = 0
    while (i < e) { r *= b; i += 1 }
    r
  }

  /** Selected fingerprint hashes in selection order (each window position's
    * rightmost-minimum gram hash, deduplicated by gram position).
    */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length - k + 1 // number of k-grams
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    // rolling k-gram hashes (mod 2^64 arithmetic; mix to spread low bytes)
    val hs = new Array[Long](n)
    val top = pow(base, k - 1)
    var h = 0L
    var i = 0
    while (i < k) { h = h * base + (bytes(i) & 0xFF); i += 1 }
    hs(0) = mix(h)
    i = 1
    while (i < n) {
      h = (h - (bytes(i - 1) & 0xFF) * top) * base + (bytes(i + k - 1) & 0xFF)
      hs(i) = mix(h)
      i += 1
    }
    if (n <= w) {
      // single partial window: one fingerprint (rightmost minimum)
      var best = 0
      var j = 1
      while (j < n) { if (hs(j) <= hs(best)) best = j; j += 1 }
      return new GenericArrayData(Array[Any](hs(best)))
    }
    val out = new java.util.ArrayList[Any](n / w + 4)
    var lastPick = -1
    var win = 0
    while (win <= n - w) {
      var best = win
      var j = win + 1
      while (j < win + w) { if (hs(j) <= hs(best)) best = j; j += 1 }
      if (best != lastPick) { out.add(hs(best)); lastPick = best }
      win += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** splitmix-style finalizer: rolling hashes of short grams concentrate in
    * low entropy without it.
    */
  private def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- DuckDB oracle mirror ----------------------------------------------
  //
  // The kernel's JVM Long arithmetic is mod-2^64 with SIGNED window-min
  // comparisons. DuckDB BIGINT math is checked (overflow errors), so the
  // oracle carries hashes as non-negative HUGEINT residues mod 2^64:
  // products of two 64-bit residues would overflow int128, hence 32-bit
  // limb-split multiplies; `>>>` becomes integer division (values are kept
  // non-negative); the residue is reinterpreted as a signed BIGINT only at
  // the end, so list_min and the rightmost-tie selection order exactly as
  // the JVM compares. Gram hashes come from the closed form
  // Σ base^(k-1-j)·byte(j) (equivalent to the rolling update), with the
  // power table computed HERE by the same wrapping Long ops the kernel
  // uses — single source of truth for the constants.

  private def u64(x: Long): String = java.lang.Long.toUnsignedString(x)
  private val M64 = "18446744073709551616"

  /** (z * c) mod 2^64 for a non-negative HUGEINT residue `z` and Long
    * constant `c`, via 32-bit limbs (all partials < 2^98 << int128 max).
    */
  private def mulSql(z: String, c: Long): String = {
    val clo = c & 0xFFFFFFFFL
    val chi = c >>> 32
    s"((($z % 4294967296) * ${u64(clo)} + " +
      s"((($z // 4294967296) * ${u64(clo)} + ($z % 4294967296) * ${u64(chi)}) " +
      s"% 4294967296) * 4294967296) % $M64)"
  }

  private def xorShiftSql(z: String, s: Int): String =
    s"xor(CAST($z AS HUGEINT), CAST($z // ${1L << s} AS HUGEINT))"

  /** Per-document fingerprint-count oracle: mirrors `compute` over
    * `textSql` (an expression yielding the normalized text of table
    * `documents`), returning rows (doc_id, n_fingerprints).
    */
  def countOracleSql(textSql: String, k: Int, w: Int): String = {
    // base^(k-1-j) mod 2^64 via the kernel's own wrapping multiply
    val powers = (0 until k).map { j =>
      var r = 1L; var i = 0
      while (i < k - 1 - j) { r *= base; i += 1 }
      r
    }
    val gram = powers.zipWithIndex
      .map { case (p, j) =>
        s"CAST(${u64(p)} AS HUGEINT) * ascii(substr(t, i + $j, 1))"
      }
      .mkString(" + ")
    val slice = s"list_slice(hs, CAST(win AS INT), CAST(win AS INT) + $w - 1)"
    s"""
      WITH nd AS (
        SELECT doc_id, $textSql AS t FROM documents
      ), gi AS (
        SELECT doc_id, t,
               CAST(unnest(range(1, greatest(length(t) - $k + 1, 0) + 1)) AS INT) AS i
        FROM nd
      ), s0 AS (
        SELECT doc_id, i, (($gram) + ${u64(0x9E3779B97F4A7C15L)}) % $M64 AS m1 FROM gi
      ), s1 AS (
        SELECT doc_id, i, ${mulSql(xorShiftSql("m1", 30), 0xBF58476D1CE4E5B9L)} AS m2 FROM s0
      ), s2 AS (
        SELECT doc_id, i, ${mulSql(xorShiftSql("m2", 27), 0x94D049BB133111EBL)} AS m3 FROM s1
      ), s3 AS (
        SELECT doc_id, i, ${xorShiftSql("m3", 31)} AS m4 FROM s2
      ), hsl AS (
        SELECT doc_id,
               list(CAST(CASE WHEN m4 >= 9223372036854775808 THEN m4 - $M64
                         ELSE m4 END AS BIGINT) ORDER BY i) AS hs
        FROM s3 GROUP BY doc_id
      ), j AS (
        SELECT nd.doc_id, nd.t, length(nd.t) - $k + 1 AS n, hsl.hs
        FROM nd LEFT JOIN hsl ON nd.doc_id = hsl.doc_id
      )
      SELECT doc_id,
        CASE WHEN t IS NULL THEN NULL
             WHEN n <= 0 THEN 0
             WHEN n <= $w THEN 1
             ELSE len(list_distinct(list_transform(range(1, n - $w + 2), win ->
               win + $w - list_position(list_reverse($slice), list_min($slice)))))
        END AS n_fingerprints
      FROM j ORDER BY doc_id
    """
  }
}

/** SQL names and Column handles; [[Natives]] registers the kernels. */
object WinnowFunctions {

  val winnowName = "graft_winnow"

  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)

  def winnow(text: Column, k: Int, w: Int): Column =
    call_function(winnowName, text, org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
}
