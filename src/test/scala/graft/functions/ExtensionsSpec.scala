package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** The spark.sql.extensions route (graft.GraftExtensions) and the raw
  * Catalyst eval contracts of the native kernels — exercised without a
  * plan, so type/null behavior is pinned at the Expression level.
  */
class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions installs all native functions without error") {
    // building a second SparkContext to pass the config is not possible in
    // the shared test JVM; applying the injector directly exercises the
    // same registration path the config route runs at session build
    new graft.GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("builder guards: non-literal / mistyped scalar args fail analysis, not cast") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val df = Seq(("a b c d", 3)).toDF("text", "n")
    // a column where an INT literal is required
    val e1 = intercept[Exception] {
      df.select(org.apache.spark.sql.functions.call_function(
        TextFunctions.shinglesName, col("text"), col("n"))).collect()
    }
    assert(e1.getMessage.contains(TextFunctions.shinglesName))
    // a LONG literal where an INT literal is required
    val e2 = intercept[Exception] {
      df.select(org.apache.spark.sql.functions.call_function(
        ShingleHashFunctions.shingleHashesName, col("text"), lit(3L))).collect()
    }
    assert(e2.getMessage.contains(ShingleHashFunctions.shingleHashesName))
    // the legitimate literal form still resolves
    assert(df.select(TextFunctions.wordShingles(col("text"), 3)).count() === 1)
  }

  test("kernel eval contracts: values and nulls, no plan needed") {
    // WordShingles
    val sh = WordShingles(Literal("a b c d"), 3).eval(null).asInstanceOf[ArrayData]
    assert(sh.numElements() === 2)
    assert(sh.getUTF8String(0).toString === "a b c")
    assert(sh.getUTF8String(1).toString === "b c d")
    assert(WordShingles(Literal(null, org.apache.spark.sql.types.StringType), 3)
      .eval(null) === null)
    // duplicate grams collapse to first occurrence
    val dup = WordShingles(Literal("x y x y x y x"), 2).eval(null).asInstanceOf[ArrayData]
    assert(dup.numElements() === 2)
    // ByteStride
    val strided = ByteStride(Literal(Array[Byte](1, 2, 3, 4, 5)), 2)
      .eval(null).asInstanceOf[Array[Byte]]
    assert(strided.toSeq === Seq[Byte](1, 3, 5))
    // VecDot over array literals
    val dot = VecDot(
      Literal.create(Seq(1.0, 2.0), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)),
      Literal.create(Seq(3.0, 0.5), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
      .eval(null).asInstanceOf[Double]
    assert(dot === 4.0)
    // interned UTF8String round-trip safety: shingles over multibyte text
    val uni = WordShingles(Literal("é 嗨 x"), 3).eval(null).asInstanceOf[ArrayData]
    assert(uni.getUTF8String(0) === UTF8String.fromString("é 嗨 x"))
    // media decode kernels: junk bytes gate to an all-null-field struct,
    // never a crash (PNG additionally reports no CRC verdict — the header
    // region doesn't exist)
    val junk = "definitely not media".getBytes
    val pngRow = PngStats(Literal(junk)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert((0 until 9).forall(pngRow.isNullAt))
    val bmpRow = BmpStats(Literal(junk)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert((0 until 6).forall(bmpRow.isNullAt))
    val wavRow = WavStats(Literal(junk)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert((0 until 7).forall(wavRow.isNullAt))
    // repetition stats: empty token list evals to null (= "no row")
    assert(RepetitionStats.compute(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])) === null)
    // bpe counts: two single-piece vocab words + 1 symbol ("leszaskor" is
    // a learned 9-letter piece of the 8192-merge vocabulary)
    val bpe = BpeCounts(Literal("leszaskor leszaskor!")).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(bpe.getLong(0) === 2L && bpe.getLong(1) === 2L && bpe.getLong(2) === 1L)
  }
}
