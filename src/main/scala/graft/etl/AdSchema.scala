package graft.etl

import org.apache.spark.sql.types._

/** Schemas for the ad-library pipeline (SURVEY.md §1).
  *
  * The raw scan schema is PERMISSIVE — every field nullable — so missing keys
  * surface as nulls that the validation operator routes to quarantine,
  * instead of exceptions killing tasks (the reference's per-row try/except
  * log-and-drop, transform_raw_data.py:155-162, re-expressed; SURVEY §7.3).
  * Never schema-infer in production: the raw file may be empty and inference
  * is nondeterministic across files (SURVEY §1.3).
  */
object AdSchema {

  val card: StructType = StructType(Seq(
    StructField("body", StringType),
    StructField("video_hd_url", StringType),
    StructField("original_image_url", StringType),
  ))

  val snapshot: StructType = StructType(Seq(
    StructField("display_format", StringType),
    StructField("body", StructType(Seq(StructField("text", StringType)))),
    StructField("cards", ArrayType(card)),
  ))

  /** One raw ad object (fields read at transform_raw_data.py:107-118). */
  val ad: StructType = StructType(Seq(
    StructField("ad_archive_id", StringType),
    StructField("is_active", BooleanType),
    StructField("start_date", LongType),
    StructField("end_date", LongType),
    StructField("total_active_time", LongType),
    StructField("collation_id", StringType),
    StructField("collation_count", LongType),
    StructField("snapshot", snapshot),
  ))

  /** A raw file is ONE JSON document: an array of ad groups, each an array of
    * ads (collect_raw_data.py:95,202).
    */
  val rawDocument: ArrayType = ArrayType(ArrayType(ad))

  /** Strict post-validation schema (ValidatedAd, transform_raw_data.py:32-43). */
  val validated: StructType = StructType(Seq(
    StructField("ad_id", StringType, nullable = false),
    StructField("is_active", BooleanType, nullable = false),
    StructField("start_date_ts", LongType, nullable = false),
    StructField("end_date_ts", LongType),
    StructField("total_active_time_sec", LongType),
    StructField("ad_group_id", StringType),
    StructField("grouped_ads_count", LongType),
    StructField("display_format", StringType, nullable = false),
    StructField("media_mix", StringType, nullable = false),
    StructField("ad_text", StringType, nullable = false),
    StructField("ad_lang_code", StringType, nullable = false),
  ))

  val displayFormats: Seq[String] = Seq("VIDEO", "IMAGE", "DCO", "CAROUSEL")

  /** `datetime.fromtimestamp(v, tz=utc)` accepts years 1..9999
    * (transform_raw_data.py:52-55) — the epoch-validity window for V1.
    */
  val minEpoch: Long = -62135596800L
  val maxEpoch: Long = 253402300799L
}
