package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.Tables

class SkewSpec extends SparkSpec {

  test("salted aggregation equals the direct groupBy") {
    val salted = Skew.q_skew_salted_agg.run(spark, sf())
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val direct = Tables.lineitem(spark, sf())
      .groupBy("l_returnflag")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(salted === direct)
  }

  test("approximate distinct count is within the configured error of exact") {
    val approx = Skew.q_approx_distinct.run(spark, sf())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, sf())
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e < 0.1, s"$k: approx $a vs exact $e")
    }
  }

  test("bloom prefilter keeps every true match; composition equals the plain join") {
    import org.apache.spark.sql.functions._
    val lineitem = graft.util.Tables.lineitem(spark, sf())
    val urgent = graft.util.Tables.orders(spark, sf())
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val plain = lineitem.join(urgent, col("l_orderkey") === col("o_orderkey"))
    val composed = Relational.bloomPreJoin(lineitem, urgent, "l_orderkey", "o_orderkey")
    assert(composed.count() === plain.count(),
      "false positives must be cleared by the exact join")
    // the prefilter alone is a superset of the true matches and (at this
    // sizing) a strict subset of the fact side — it actually prunes
    val sketch = urgent.agg(graft.functions.BloomFunctions
        .bloomAgg(xxhash64(col("o_orderkey")), 1000000L, 8388608L).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val pre = lineitem.filter(graft.functions.BloomFunctions
      .mightContain(lit(sketch), xxhash64(col("l_orderkey"))))
    val preN = pre.count()
    val semiN = lineitem.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(preN >= semiN && preN < lineitem.count())
  }
}
