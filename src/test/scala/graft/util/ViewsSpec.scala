package graft.util

import graft.SparkSpec

class ViewsSpec extends SparkSpec {

  test("spark.sql over registered views matches the DataFrame plan") {
    Tables.registerViews(spark, sf())
    val viaSql = spark.sql(
      """SELECT l_returnflag, COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin).collect()
    val li = Tables.lineitem(spark, sf())
    val o = Tables.orders(spark, sf()).filter("o_orderstatus = 'F'")
    val viaDf = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("l_returnflag").count()
      .orderBy("l_returnflag").collect()
    assert(viaSql.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      viaDf.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("native functions are SQL-addressable after registration") {
    Tables.registerViews(spark, sf())
    val d = spark.sql(
      "SELECT graft_vec_dot(embedding, embedding) AS nrm2 FROM embeddings LIMIT 5")
      .collect().map(_.getDouble(0))
    assert(d.nonEmpty && d.forall(_ > 0.0))
    // the round-9 kernels through the same façade: tokenizer accounting,
    // repetition stats over a token array, and a media decode struct
    // deterministic doc choice + a length floor: repetition stats are null
    // for token-less text, so an arbitrary LIMIT over an unordered scan
    // would be a fixture-dependent flake
    val r = spark.sql(
      """SELECT graft_bpe_counts(text).n_bpe AS nb,
        |       graft_repetition_stats(filter(split(lower(text), '\\s+'),
        |                                     t -> t <> '')).n_tokens AS nt
        |FROM documents WHERE text IS NOT NULL AND length(text) > 10
        |ORDER BY doc_id LIMIT 5""".stripMargin)
      .collect()
    assert(r.nonEmpty && r.forall(row => row.getLong(0) >= 0 && row.getLong(1) > 0))
    val shapes = spark.sql(
      "SELECT graft_wav_stats(payload) AS st FROM (SELECT CAST(NULL AS BINARY) AS payload)")
      .collect()
    assert(shapes.length === 1) // null payload -> null struct, no error
    // a fresh session sees the WHOLE table through the SQL entry point
    val fresh = spark.newSession()
    Tables.registerViews(fresh, sf())
    val natives = graft.functions.Natives.all.map(_._1.funcName)
    assert(natives.distinct.size === natives.size, "a name has two rows")
    val missing = natives.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"not resolvable after registerViews: $missing")
    // a second install registers nothing: the name set stays, and an entry
    // already present (here a stand-in builder) is not overwritten
    val reg = fresh.sessionState.functionRegistry
    val (id, info, _) = graft.functions.Natives.all.head
    val standIn: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression = _.head
    reg.registerFunction(id, info, standIn)
    val names = reg.listFunction().toSet
    graft.functions.Natives.install(fresh)
    assert(reg.listFunction().toSet === names)
    assert(reg.lookupFunctionBuilder(id).exists(_ eq standIn))
  }
}
