package graft

import org.apache.spark.sql.functions._

import graft.io.{IncrementalView, SnapshotTable}

/** Scale probe for [[graft.io.IncrementalView]]: pins the design claim
  * that a refresh costs what the DELTA cost, never a corpus rescan
  * (IncrementalView.scala's "refresh reads ONLY the files the commits
  * since the last refresh touched"). Builds a large ledger source,
  * clusters it on the view key, then times
  *   - view create (the full recompute every refresh avoids),
  *   - additive refresh after small insert commits at two delta sizes,
  *   - an extremum-tie refresh, whose per-key recompute rides the
  *     zone-map-pruned [[SnapshotTable.readPoints]] scan instead of
  *     rescanning the table.
  * A performance harness over /tmp for SCALEPROBE.md — never a
  * correctness input (the oracle runs stay on the driver's parquet).
  *
  * Usage: runMain graft.MvScaleProbe <workDir> <rows>
  */
object MvScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(work, rowsS) = args.take(2)
    val n = rowsS.toLong
    val spark = graft.util.EngineDefaults.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // Every timing is warm-cache: the probe leaves host kernel state (the
    // page cache included) alone, so a table that fits in memory lets the
    // "full recompute" comparator scan at memory speed and understates the
    // refresh-vs-rescan asymmetry a corpus larger than memory would show.
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[mvprobe] $label [warm cache]: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val src = s"$work/src"
    val view = s"$work/view"
    val viewX = s"$work/viewx"
    // 8 poorly-compressible double measure columns besides the extremum
    // long: a 3-long-column table delta-encodes into almost nothing, and a
    // "full recompute" that reads 300 MB can't show the refresh-vs-rescan
    // asymmetry wall-clock was meant to illustrate
    val sumCols = (0 until 8).map(i => s"m$i")
    def rowsFrom(lo: Long, cnt: Long) = {
      val base = spark.range(lo, lo + cnt).select(
        col("id").as("doc_id"),
        pmod(col("id") * 2654435761L, lit(100000L)).as("grp"),
        pmod(abs(hash(col("id"))).cast("long"), lit(1000L)).as("v"))
      sumCols.zipWithIndex.foldLeft(base) { case (df, (c, i)) =>
        df.withColumn(c,
          (hash(col("doc_id") * lit(i * 2 + 3)).cast("double") * 1e-4))
      }
    }
    def tableBytes(dir: String): Long =
      SnapshotTable.snapshot(spark, dir, None).files
        .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(dir, f))).sum
    def feedBytes(dir: String, from: Int, to: Int): Long = {
      val a = SnapshotTable.snapshot(spark, dir, Some(from)).files.toSet
      val b = SnapshotTable.snapshot(spark, dir, Some(to)).files.toSet
      ((b -- a) ++ (a -- b)).toSeq
        .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(dir, f))).sum
    }

    t(s"source create ($n rows, 64 files)") {
      SnapshotTable.create(rowsFrom(0L, n).repartition(64, col("doc_id")),
        src, statsCols = Seq("grp"))
    }
    t("source cluster by grp (the maintenance rewrite)") {
      SnapshotTable.compact(spark, src, minFileBytes = 1L << 40,
        targetPartitions = 64, clusterBy = Seq("grp"))
    }
    println(f"[mvprobe] table bytes: ${tableBytes(src) / 1e6}%.0f MB")
    t("ledger view CREATE  = the full recompute") {
      IncrementalView.create(spark, src, view, Seq("grp"), sumCols)
    }
    t("extrema view CREATE = the full recompute") {
      IncrementalView.create(spark, src, viewX, Seq("grp"), Nil,
        minCols = Seq("v"), maxCols = Seq("v"))
    }
    var hi = n
    Seq(n / 1000, n / 100).foreach { delta =>
      val v0 = SnapshotTable.latestVersion(src)
      t(s"source merge (+$delta rows)") {
        SnapshotTable.merge(spark, src, rowsFrom(hi, delta), "doc_id")
      }
      hi += delta
      println(f"[mvprobe]   feed bytes for this delta: " +
        f"${feedBytes(src, v0, SnapshotTable.latestVersion(src)) / 1e6}%.1f MB")
      t(s"ledger REFRESH  delta=$delta") {
        IncrementalView.refresh(spark, src, view, Seq("grp"), sumCols)
      }
      t(s"extrema REFRESH delta=$delta (inserts only, no ties)") {
        IncrementalView.refresh(spark, src, viewX, Seq("grp"), Nil,
          minCols = Seq("v"), maxCols = Seq("v"))
      }
    }
    // extremum ties: tombstone the row holding the MIN of 16 groups — the
    // one case the delta cannot answer; the per-key recompute must ride
    // the clustered zone maps, not rescan the corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("v"), col("doc_id"))
    val victims = SnapshotTable.read(spark, src)
      .filter(col("grp") < 16)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn").localCheckpoint()
    val vt = SnapshotTable.latestVersion(src)
    t("source merge (tombstone 16 group minima)") {
      SnapshotTable.merge(spark, src,
        victims.withColumn("gone", lit(true)), "doc_id",
        deleteCol = Some("gone"))
    }
    println(f"[mvprobe]   feed bytes for the tombstone delta: " +
      f"${feedBytes(src, vt, SnapshotTable.latestVersion(src)) / 1e6}%.1f MB")
    t("extrema REFRESH with ties (zone-map-pruned recompute)") {
      IncrementalView.refresh(spark, src, viewX, Seq("grp"), Nil,
        minCols = Seq("v"), maxCols = Seq("v"))
    }
    t("comparator: extrema view FULL recompute at latest") {
      IncrementalView.create(spark, src, s"$work/viewx_full", Seq("grp"), Nil,
        minCols = Seq("v"), maxCols = Seq("v"))
    }
    t("comparator: ledger view FULL recompute at latest") {
      IncrementalView.create(spark, src, s"$work/view_full", Seq("grp"), sumCols)
    }
    spark.stop()
  }
}
