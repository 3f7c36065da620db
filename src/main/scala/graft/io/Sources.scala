package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.AdSchema

/** Engine-boundary sources (SURVEY.md §2.1 S7/S10). */
object Sources {

  /** S7: raw ad-library JSON. Each file is ONE pretty-printed document
    * (collect_raw_data.py:202) — read wholetext so the document's array
    * indices (not line splits) define ordering; one file = one task, so a
    * 100 TB landing zone parallelizes by file count while each document
    * keeps its internal order (SURVEY §7.1).
    */
  def rawAdsJson(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .text(path)
      .select(input_file_name().as("doc_id"), col("value"))

  /** In-memory variant for fixtures/tests: (doc_id, json) pairs. */
  def rawAdsFromStrings(spark: SparkSession, docs: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "value")
  }

  /** S10: curated parquet scan — pushdown + pruning come free. The schema
    * is the one the curated sink writes ([[AdSchema.validated]]), never the
    * footer's: an engine boundary never infers (footer inference is a Spark
    * job per read), and a footer that disagrees on a column's type fails the
    * scan instead of reading nulls.
    */
  def curatedParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(AdSchema.validated).parquet(path)

  /** Report CSV read-back (the S11 sink's inverse): schema is ALWAYS given
    * explicitly — CSV inference reads the data twice and types drift
    * between runs; an engine boundary never infers (same rule as the raw
    * JSON scan, SURVEY §1.3).
    */
  def reportCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** ORC scan — same vectorized, pushdown-capable columnar path as
    * parquet; the curated layer is format-pluggable at the boundary.
    */
  def curatedOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
