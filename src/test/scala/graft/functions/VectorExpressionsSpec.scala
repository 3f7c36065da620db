package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkSpec
import graft.util.Tables

class VectorExpressionsSpec extends SparkSpec {

  test("native vec_dot is bit-identical to the HOF fold it replaced") {
    val emb = Tables.embeddings(spark, sf()).limit(50)
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    val both = emb.select(
      VectorFunctions.vecDot(col("embedding"), col("embedding")).as("native"),
      hofDot(col("embedding"), col("embedding")).as("hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    // bitwise equality, not tolerance — both are the same sequential fold
    assert(rows.forall(r =>
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("word shingles addressable from SQL and null-safe") {
    import spark.implicits._
    Seq(("a b c d", 1)).toDF("text", "id").createOrReplaceTempView("ws_t")
    val viaSql = spark.sql(
      s"SELECT ${TextFunctions.shinglesName}(text, 3) AS sh FROM ws_t")
      .collect()(0).getSeq[String](0)
    assert(viaSql === Seq("a b c", "b c d"))
    // null text → null array (callers that want the empty-set contract
    // coalesce, as Dedup.shingleSets does)
    val nullOut = Seq((Option.empty[String], 1)).toDF("text", "id")
      .select(TextFunctions.wordShingles(col("text"), 3).as("sh")).collect()
    assert(nullOut(0).isNullAt(0))
  }

  test("pq_argmin nulls out a codebook-dimension mismatch instead of guessing") {
    import spark.implicits._
    val book = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))
    val df = Seq(Seq(0.9, 1.1), Seq(0.9, 1.1, 7.0), Seq(0.9)).toDF("x")
    val out = df.select(
      VectorFunctions.pqArgmin(col("x"), typedLit(book)).as("b")).collect()
    assert(out(0).getStruct(0).getInt(1) === 1) // matched length still codes
    assert(out(1).isNullAt(0)) // longer than d: null, not silent truncation
    assert(out(2).isNullAt(0)) // shorter than d: null, not zero-padding
  }

  test("vec_dot handles mixed float/double arrays and nulls") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Some(Seq(2.0, 0.5, 1.0))),
      (Seq(1.0f, 1.0f), None),
    ).toDF("f", "d")
    val out = df.select(VectorFunctions.vecDot(col("f"), col("d")).as("dot")).collect()
    assert(out(0).getDouble(0) === 2.0 + 1.0 + 3.0)
    assert(out(1).isNullAt(0))
  }

  test("nearest_cells equals exclude-chosen max_by rounds bit-for-bit") {
    val emb = Tables.embeddings(spark, sf()).limit(200)
    // book = 7 real corpus vectors (adversarial: self-assignments produce
    // exact cosine ties at 1.0 only for the seed itself)
    val book: Seq[Seq[Double]] = emb.filter(col("vec_id") < 7)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val p = 3
    val kernel = emb.select(col("vec_id"),
      VectorFunctions.nearestCells(col("embedding"), typedLit(book), p).as("pc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // reference: p rounds of max_by(struct(cos, -idx)) over a broadcast
    // fan-out — the shape the kernel replaced
    val cents = book.zipWithIndex.map { case (c, i) => (i, c) }
    import spark.implicits._
    val cdf = cents.toDF("cidx", "cvec")
    var chosen = Map.empty[Long, Seq[Int]].withDefaultValue(Seq.empty)
    for (_ <- 0 until p) {
      val excl = chosen
      val round = emb.select(col("vec_id"), col("embedding"))
        .join(broadcast(cdf))
        .select(col("vec_id"), col("cidx"),
          (VectorFunctions.vecDot(col("embedding"), col("cvec")) /
            (sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding"))) *
              sqrt(VectorFunctions.vecDot(col("cvec"), col("cvec"))))).as("cos"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (id, rows) =>
          val cand = rows.filterNot(r => excl(id).contains(r.getInt(1)))
          val best = cand.maxBy(r => (r.getDouble(2), -r.getInt(1)))
          id -> best.getInt(1)
        }
      chosen = chosen.keySet.union(round.keySet).map(id =>
        id -> (chosen(id) :+ round(id))).toMap.withDefaultValue(Seq.empty)
    }
    assert(kernel.keySet === chosen.keySet)
    kernel.foreach { case (id, pc) =>
      assert(pc === chosen(id), s"probe order mismatch for vec $id")
    }
  }

  test("nearest_vec equals a per-row max_by over the same book; null on empty") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf()).limit(100)
    val book: Seq[Seq[Double]] = emb.filter(col("vec_id") >= 3 && col("vec_id") < 9)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val out = emb.select(col("vec_id"),
      VectorFunctions.nearestVec(col("embedding"), typedLit(book)).as("nv"))
      .collect()
    out.foreach { r =>
      val x = r // re-derive per row in plain Scala with the same fold
      val id = x.getLong(0)
      val nv = x.getStruct(1)
      val expected = emb.filter(col("vec_id") === id)
        .collect().head.getSeq[Float](1).map(_.toDouble)
      val nx = math.sqrt(expected.map(v => v * v).sum)
      val scored = book.zipWithIndex.map { case (c, i) =>
        val d = expected.zip(c).map { case (a, b) => a * b }.foldLeft(0.0)(_ + _)
        (d / (nx * math.sqrt(c.map(v => v * v).foldLeft(0.0)(_ + _))), i)
      }
      val best = scored.maxBy { case (cos, i) => (cos, -i) }
      assert(nv.getInt(0) === best._2, s"idx mismatch for vec $id")
    }
    // empty book → null (left-joined absent cells drop out of greatest)
    val nulls = emb.limit(1).select(
      VectorFunctions.nearestVec(col("embedding"),
        typedLit(Seq.empty[Seq[Double]])).as("nv")).collect()
    assert(nulls(0).isNullAt(0))
  }
}
