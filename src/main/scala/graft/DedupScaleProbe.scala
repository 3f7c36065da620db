package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.util.Tables

/** Scale-probe harness for the banded dedup joins (the SCALEPROBE.md
  * candidate-volume decompositions): per-geometry bucket-size histograms
  * with implied SMJ compare counts, distinct candidate-pair counts, and
  * signature-prefilter survivor counts. Performance diagnostics over a
  * probe directory — never a correctness input.
  *
  * Usage: runMain graft.DedupScaleProbe <sfDir> [buckets|cands|bottomk2]
  */
object DedupScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = if (args.length > 1) args(1) else "cands"
    val spark = graft.util.EngineDefaults.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    val docs = Tables.documents(spark, sfDir)
    lazy val sets = Dedup.hashedShingleSets(docs).filter(col("sz") > 0).localCheckpoint()
    lazy val sig = Dedup.withSignature(sets).localCheckpoint()

    if (mode == "bottomk2") {
      // stage decomposition of the PRODUCTION candidate generator — calls
      // Dedup.bkSets/bottomKCandidates directly (round-13 advice: the
      // earlier inline mirror would silently drift from the shape it
      // claims to measure). Per-stage attribution inside the generator
      // comes from its own sequential structure: the sets checkpoint is
      // timed here, the df-agg/semi-join/pair-join split shows in the
      // Spark stage log, and the rescore delta = the end-to-end
      // q_dedup_jaccard_bottomk bench run minus this probe's total.
      def t[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime(); val r = body
        println(f"[bottomk2] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
      }
      val sets = t("sets checkpoint (DISK_ONLY)")(Dedup.bkSets(docs))
      val n = t("sets count")(sets.count())
      println(s"[bottomk2] n=$n")
      val cands = t("bottomKCandidates (sharded df agg + semi + pair join)")(
        Dedup.bottomKCandidates(sets, n, 0.5, 16, 64, symmetric = true))
      println(s"[bottomk2] n_cands=${cands.count()}")
      spark.stop(); return
    }
    if (mode == "buckets") {
      // bucket-size histogram per band geometry: where SMJ compare counts
      // and pre-cap candidate volumes come from
      def hist(name: String, banded: org.apache.spark.sql.DataFrame): Unit = {
        println(s"=== $name bucket histogram ===")
        banded.groupBy("band", "band_hash").agg(count(lit(1)).as("n"))
          .groupBy(
            when(col("n") === 1, "a:1").when(col("n") <= 16, "b:2-16")
              .when(col("n") <= 256, "c:17-256").when(col("n") <= 4096, "d:257-4k")
              .otherwise("e:>4k").as("size"))
          .agg(count(lit(1)).as("buckets"), sum("n").as("rows"),
            sum(col("n") * col("n")).as("smj_compares"),
            sum(when(col("n") <= Dedup.bandBucketCap, col("n") * (col("n") - 1) / 2)
              .otherwise(col("n") * 2)).as("capped_cand_rows"))
          .orderBy("size").show(false)
      }
      hist("jaccard-16x4", Dedup.bandedHashes(sig, Dedup.numBands, Dedup.rowsPerBand))
      hist("containment-32x2", Dedup.bandedHashes(sig, Dedup.cSketchBands, Dedup.cSketchRows))
    } else {
      // the inputs minHashLshJoin builds, then its own candidate stage
      val jSets = Dedup.hashedShingleSets(docs).localCheckpoint()
      val compact = Dedup.sigCompact(Dedup.withSignature(jSets)).localCheckpoint()
      val jc = Dedup.lshCandidates(compact).localCheckpoint()
      val jn = jc.count()
      val jk = Dedup.prefilterCands(jc, compact.select("doc_id", "sz", "sigb"),
        (_, _) => lit(0.5), Dedup.rowsPerBand * 0.5).count()
      println(s"JACCARD t=0.5: candidates=$jn prefilter_survivors=$jk")
      val cc = Dedup.containmentSketchCandidates(sets, sig).localCheckpoint()
      val cn = cc.count()
      val ck = Dedup.prefilterCands(cc, Dedup.withSigBytes(sig),
        (szI, szJ) => lit(0.8) / (lit(1.0) + szJ / szI - lit(0.8))).count()
      println(s"CONTAINMENT t=0.8: candidates=$cn prefilter_survivors=$ck")
    }
    spark.stop()
  }
}
