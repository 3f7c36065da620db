package graft

import org.apache.spark.sql.functions._

import graft.similarity.Similarity
import graft.util.Tables

/** Scale-probe harness for the sign-LSH ANN path: times the corpus
  * bucketing scan (the stage the SignBuckets kernel replaced an
  * interpreted-eval conjunct tree for) and a full annTopK run, then
  * prints the executed plan. Performance diagnostics over a probe
  * directory — never a correctness input.
  *
  * Usage: runMain graft.SimScaleProbe <sfDir> [ann|semdedup [k]]
  */
object SimScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.EngineDefaults.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val emb = Tables.embeddings(spark, args(0))
    def timed[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[simprobe] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }
    timed("corpus count")(emb.count())
    if (args.length > 1 && (args(1) == "semdedup" || args(1) == "semdedup_idx"
      || args(1) == "semdedup_coded")) {
      // semantic dedup per-decade rows: k scales with the corpus (k ∝ n
      // holds |cluster| ~constant, SemDeDup's regime). `semdedup` times the
      // flat n·k argmax twin; `semdedup_idx` the two-level n·√k·nprobe one;
      // `semdedup_coded` the fifth-decade PQ shortlist + exact-rescore one.
      val k = if (args.length > 2) args(2).toInt
        else math.max(16, (emb.count() / 125).toInt)
      val t = if (args.length > 3) args(3).toDouble else 0.4
      val out = args(1) match {
        case "semdedup_idx" => Similarity.semanticDedupIndexed(emb, k, t)
        case "semdedup_coded" => Similarity.semanticDedupCoded(emb, k, t)
        case _ => Similarity.semanticDedupTrained(emb, k, t)
      }
      timed(s"${args(1)} k=$k t=$t") {
        out.write.format("noop").mode("overwrite").save()
      }
      spark.stop(); return
    }
    // Stage 1 in isolation: the corpus-side bucketing scan.
    val c = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      explode_outer(Similarity.bucketIds(col("embedding"), 4, 10)).as("bucket"))
      .filter(col("bucket").isNotNull)
    timed("bucketing scan")(c.select(count(lit(1)), countDistinct("bucket")).show())
    // The full ANN query for a small probe set.
    val out = Similarity.annTopK(emb.filter(col("vec_id") < 20), emb, 5)
    timed("annTopK full")(println(out.count()))
    out.explain("formatted")
    spark.stop()
  }
}
