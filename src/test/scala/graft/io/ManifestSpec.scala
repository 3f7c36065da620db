package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The driver-side manifest parser against the Spark-reader parse it
  * replaced ([[ManifestReference]]), on every manifest shape the writer
  * emits plus one written before zone maps existed.
  */
class ManifestSpec extends SparkSpec {

  private def sameParse(dir: String, v: Int): SnapshotTable.Snapshot = {
    val parsed = SnapshotTable.snapshot(spark, dir, Some(v))
    assert(parsed === ManifestReference.snapshot(spark, dir, v), s"v$v of $dir")
    parsed
  }

  test("manifest parser: driver parse equals the Spark-reader reference on every manifest shape") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manifest").toString + "/t"
    val cats = Seq("aaa", "ønß", "日本語", "😀zz")
    val base = (0L until 200L).map(i => (i, i * 0.25 - 7.5, cats((i % 4).toInt)))
      .toDF("id", "x", "cat")
    // create: numeric and string zone maps over three files
    SnapshotTable.create(base.repartition(3, col("id")), dir,
      statsCols = Seq("id", "x", "cat"))
    assert(sameParse(dir, 1).stats.nonEmpty)

    // stats merge: extreme doubles and multibyte string bounds
    SnapshotTable.merge(spark, dir,
      Seq((5L, -1.0e300, "￿zz"), (500L, 1.0e300, "😀"), (6L, 4.9e-324, "é"))
        .toDF("id", "x", "cat"), "id")
    val v2 = sameParse(dir, 2)
    val xZones = v2.stats.values.flatMap(_.get("x")).toSeq
    assert(xZones.exists(_._1 == -1.0e300) && xZones.exists(_._2 == 1.0e300))
    assert(v2.strStats.values.exists(_.get("cat").exists(_._2 == "😀zz")))

    // schema-evolving merge: the manifest's schema gains a column
    SnapshotTable.merge(spark, dir,
      Seq((7L, 3.0, "b", 1)).toDF("id", "x", "cat", "extra"), "id")
    assert(sameParse(dir, 3).schemaDdl.exists(_.contains("extra")))

    // meta, including characters the writer must escape
    val meta = Map("batch_id" -> "42", "note" -> "quote \" slash \\ tab \t ünï")
    SnapshotTable.merge(spark, dir,
      Seq((8L, 1.5, "c", 2)).toDF("id", "x", "cat", "extra"), "id", meta = meta)
    assert(sameParse(dir, 4).meta === meta)

    // a manifest written before zone maps: no statsCols, no stats
    val old = Files.createTempDirectory("graft-manifest-old")
    Files.createDirectories(old.resolve("_graft_log"))
    Files.writeString(old.resolve("_graft_log").resolve("v00000001.json"),
      """{"version":1,"files":["data/c1/part-00000.parquet","data/c1/part-00001.parquet"]}""")
    val pre = sameParse(old.toString, 1)
    assert(pre.files.size === 2 && pre.statsCols.isEmpty && pre.stats.isEmpty &&
      pre.schemaDdl.isEmpty && pre.meta.isEmpty && pre.strStats.isEmpty)
  }
}
