package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe data amplifier: writes a FACTOR× copy of a testdata
  * directory by unioning key-shifted replicas (each fact table's keys are
  * offset by replica·(max+1), so uniqueness and join fan-outs are
  * preserved; dimension tables region/nation stay fixed, as TPC-H scaling
  * does). Used for the committed SCALEPROBE.md runs — a PERFORMANCE
  * harness over /tmp, never a correctness input (oracle runs stay on the
  * driver's own parquet).
  *
  * Usage: runMain graft.ScaleProbeData <srcSfDir> <outDir> <factor>
  */
object ScaleProbeData {

  /** Columns to shift per table (primary key + the foreign keys that must
    * follow their parent's shift so per-key group sizes stay constant).
    */
  private val shiftCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
  )

  /** The shift base of a column is shared with its parent table's key so
    * replicas join onto the matching replica (o_custkey shifts by
    * customer's base, not orders').
    */
  private val baseOf: Map[String, String] = Map(
    "o_custkey" -> "c_custkey", "l_orderkey" -> "o_orderkey",
    "l_partkey" -> "p_partkey", "l_suppkey" -> "s_suppkey",
  ).withDefault(identity)

  def amplify(table: String, df: DataFrame, cols: Seq[String],
      bases: Map[String, Long], factor: Int,
      mode: String = "tagged", salt: Int = 0): DataFrame =
    // dimension tables (no shift columns) stay FIXED — one copy, as TPC-H
    // scaling does. Unioning identical replicas would duplicate every
    // dimension key, fanning each nation/region join out by the factor and
    // turning the probe's join ratios into a data artifact.
    if (cols.isEmpty) df
    else (0 until factor).map { i =>
      val shifted = cols.foldLeft(df) { (acc, c) =>
        acc.withColumn(c, col(c) + lit(i * bases(baseOf(c))))
      }
      if (mode == "crawl") mutateCrawl(table, shifted, i, salt)
      else mutate(table, shifted, i)
    }.reduce(_ unionAll _)

  /** Replicas must not be DUPLICATES of each other: the source corpus has
    * a ~0.2% exact-dup rate, and shipping 10 identical copies of every
    * document would turn that into 90% — every pair-emitting dedup query
    * would then grow with the SQUARE of the amplification factor by
    * construction of the data, not by any property of the plan. Replica
    * i > 0 therefore gets a replica tag interleaved into the text every
    * other token (3-gram shingles always span a tag, so cross-replica
    * near-dup similarity collapses below threshold while intra-replica
    * structure keeps the source's dup rate), and each embedding gets one
    * coordinate bumped by a replica-dependent offset (cosine is
    * scale-invariant, so a bump — not a scale — is what separates
    * replicas).
    */
  private def mutate(table: String, df: DataFrame, i: Int): DataFrame =
    table match {
      case "documents" if i > 0 =>
        val tagged = array_join(
          zip_with(
            split(col("text"), " "),
            sequence(lit(0), greatest(size(split(col("text"), " ")) - 1, lit(0))),
            (w, k) => when(k % 2 === 0, concat(lit(s"zr$i "), w)).otherwise(w)),
          " ")
        df.withColumn("text", when(col("text").isNull, col("text")).otherwise(tagged))
          .withColumn("n_chars", coalesce(length(col("text")), lit(0)).cast("long"))
      case "embeddings" if i > 0 =>
        df.withColumn("embedding",
          transform(col("embedding"),
            (v, k) => when(k === i % 64, v + lit(3.0f * i)).otherwise(v)))
      case _ => df
    }

  /** REALISTIC-VOCABULARY amplification (round-17 verdict #2). The tagged
    * mode above keeps replicas distinct with a FIXED 9-token tag alphabet,
    * so the amplified corpus's shingle vocabulary barely grows — df
    * exchanges and candidate masses probe far smaller than a real crawl's
    * at the same row count (the r16 886 MB figure vs the documented
    * ~15 GB/shard real-corpus bound) — and chained ×10 steps make half of
    * each ×2 step verbatim. Crawl mode makes the headline numbers honest:
    *
    *  - documents: every other source token gets a SPLICED synthetic token
    *    keyed by (salt, replica, underlying word) — per replica that is up
    *    to 4096 novel tokens whose placement follows the source text, so
    *    per-replica shingle vocabulary stays ≈ the source's (shifted
    *    patterns) and TOTAL distinct shingles grow ~linearly with the
    *    factor, Heaps-law-like, instead of staying flat. ~10% of replica
    *    docs (doc_id-keyed) splice only every 16th token: those remain
    *    genuine near-dup family members of their source (3-shingle Jaccard
    *    ~0.6-0.7), giving candidate generation a realistic boilerplate-
    *    family mass instead of 0% or 100%.
    *  - embeddings: additive hash noise on every coordinate, scaled to the
    *    vector's own norm — 10% of replicas at ε=0.05 (cosine ≈ 0.999:
    *    true semantic dups) and 90% at ε=1.0 (cosine ≈ 0.7: in-
    *    distribution neighbors, below dedup gates) — so the candidate set
    *    scales like a corpus with real dup families, not like the
    *    degenerate everything-is-a-candidate regime verbatim replication
    *    produced.
    *
    * `salt` MUST differ between chained amplification steps (×100 then
    * ×10): without it, level-2 replica 3's tag tokens collide with
    * level-1 replica 3's and vocabulary growth flattens again.
    */
  private def mutateCrawl(table: String, df: DataFrame, i: Int, salt: Int): DataFrame =
    table match {
      case "documents" if i > 0 =>
        val words = split(col("text"), " ")
        val light = pmod(xxhash64(col("doc_id"), lit(salt)), lit(10)) === 0
        val stride = when(light, lit(16)).otherwise(lit(2))
        val tagged = array_join(
          zip_with(words,
            sequence(lit(0), greatest(size(words) - 1, lit(0))),
            (w, k) => when(k % stride === 0,
              concat(lit(s"z${salt}x$i" + "q"),
                pmod(xxhash64(w, lit(salt), lit(i)), lit(4096)),
                lit(" "), w)).otherwise(w)),
          " ")
        df.withColumn("text", when(col("text").isNull, col("text")).otherwise(tagged))
          .withColumn("n_chars", coalesce(length(col("text")), lit(0)).cast("long"))
      case "embeddings" if i > 0 =>
        // per-coordinate noise u ∈ [-1, 1] keyed by (vec_id, coord, salt,
        // replica); ε·‖v‖/√d per coordinate gives cosine ≈ 1/√(1+ε²)
        val nrm = sqrt(aggregate(transform(col("embedding"),
          v => v.cast("double") * v), lit(0.0d), (a, x) => a + x))
        val eps = when(
          pmod(xxhash64(col("vec_id"), lit(salt + 7), lit(i)), lit(10)) === 0,
          lit(0.05d)).otherwise(lit(1.0d))
        df.withColumn("embedding",
          transform(col("embedding"), (v, k) =>
            (v + (eps * nrm / lit(8.0d)) *
              ((pmod(xxhash64(col("vec_id"), k, lit(salt), lit(i)), lit(2001))
                - lit(1000)) / lit(1000.0d))).cast("float")))
      case _ => df
    }

  def main(args: Array[String]): Unit = {
    // optional 4th arg: comma-separated table subset — a FACTOR=100 probe
    // of one pipeline doesn't need 60M amplified lineitem rows on disk.
    // optional 5th arg: mode — "tagged" (default, fixed tag alphabet) or
    // "crawl:<salt>" (realistic vocabulary growth; salt distinguishes
    // chained amplification steps — see mutateCrawl).
    val Array(src, out, factorS) = args.take(3)
    val only: Set[String] =
      if (args.length > 3 && args(3).nonEmpty) args(3).split(",").map(_.trim).toSet
      else shiftCols.keySet
    val (mode, salt) =
      if (args.length > 4 && args(4).startsWith("crawl"))
        ("crawl", args(4).split(":").lift(1).map(_.toInt).getOrElse(1))
      else ("tagged", 0)
    val factor = factorS.toInt
    val spark = graft.util.EngineDefaults.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    // key bases first (max+1 per shifted key column, on its OWNER table) —
    // restricted to the bases the SELECTED tables actually shift by, so a
    // probe-of-a-probe (whose source dir holds only the subset's tables,
    // e.g. sf100 = sf10_probe x10) doesn't read absent parquet
    val neededBases: Set[String] =
      shiftCols.filter(kv => only(kv._1)).values.flatten.map(baseOf).toSet
    val bases: Map[String, Long] = shiftCols.toSeq.flatMap { case (t, cols) =>
      val own = cols.filter(c => baseOf(c) == c && neededBases(c))
      if (own.isEmpty) Nil
      else {
        val df = spark.read.parquet(s"$src/$t.parquet")
        own.map(c => c -> (df.agg(max(col(c))).head.getLong(0) + 1L))
      }
    }.toMap
    shiftCols.filter(kv => only(kv._1)).foreach { case (t, cols) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      // output partitioning must scale with OUTPUT rows, not the factor:
      // factor=10 over a 5M-row source once wrote 10 files of 5M rows /
      // 500k-row row groups, which starved the 8 GB heap's vectorized
      // reader at 32 concurrent tasks. Cap files at ~250k rows each.
      val outParts = math.max(
        math.max(spark.sparkContext.defaultParallelism, factor),
        (df.count() * factor / 250000L + 1L).toInt)
      amplify(t, df, cols, bases, factor, mode, salt)
        .repartition(outParts)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[probe] $t x$factor written ($outParts files, mode=$mode salt=$salt)")
    }
    spark.stop()
  }
}
