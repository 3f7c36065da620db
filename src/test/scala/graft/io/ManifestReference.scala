package graft.io

import java.nio.file.Paths

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.io.SnapshotTable.Snapshot

/** The Spark-reader manifest parse that [[SnapshotTable.snapshot]] used
  * before it parsed on the driver: a schema'd `spark.read.json` over the
  * one manifest file, one Spark job per read. Kept as the reference the
  * driver parser must agree with.
  */
object ManifestReference {

  def snapshot(spark: SparkSession, dir: String, version: Int): Snapshot = {
    val row = spark.read
      .schema(StructType(Seq(
        StructField("version", IntegerType),
        StructField("files", ArrayType(StringType)),
        StructField("statsCols", ArrayType(StringType)),
        StructField("stats", ArrayType(StructType(Seq(
          StructField("file", StringType),
          StructField("col", StringType),
          StructField("mn", DoubleType),
          StructField("mx", DoubleType))))),
        StructField("strStats", ArrayType(StructType(Seq(
          StructField("file", StringType),
          StructField("col", StringType),
          StructField("smn", StringType),
          StructField("smx", StringType))))),
        StructField("schemaDdl", StringType),
        StructField("meta", MapType(StringType, StringType)))))
      .json(Paths.get(dir, "_graft_log", f"v$version%08d.json").toString)
      .head()
    val statsCols =
      if (row.isNullAt(2)) Nil else row.getSeq[String](2) // pre-stats manifests
    val stats =
      if (row.isNullAt(3)) Map.empty[String, Map[String, (Double, Double)]]
      else row.getSeq[Row](3)
        .groupBy(_.getString(0))
        .map { case (f, rows) =>
          f -> rows.map(r => r.getString(1) -> (r.getDouble(2), r.getDouble(3))).toMap
        }
    val strStats =
      if (row.isNullAt(4)) Map.empty[String, Map[String, (String, String)]]
      else row.getSeq[Row](4)
        .groupBy(_.getString(0))
        .map { case (f, rows) =>
          f -> rows.map(r => r.getString(1) -> (r.getString(2), r.getString(3))).toMap
        }
    val ddl = if (row.isNullAt(5)) None else Some(row.getString(5))
    val meta =
      if (row.isNullAt(6)) Map.empty[String, String]
      else row.getMap[String, String](6).toMap
    Snapshot(row.getInt(0), row.getSeq[String](1), statsCols, stats, ddl, meta,
      strStats)
  }
}
