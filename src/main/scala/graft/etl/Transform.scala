package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.LangId

/** The transform stage (transform_raw_data.py:192-235) as a declarative
  * Catalyst pipeline:
  *
  *   scan → posexplode² (P1) → project/derive (P2-P5, F6) →
  *   validation when-chain (V1-V5) → [quarantine] ⊕ [3× keep-first dedup (D1)]
  *
  * Order-dependence (SURVEY §7.1): the reference's semantics hinge on raw
  * file position. We materialize (doc_id, group_idx, pos) from the JSON array
  * indices themselves via double posexplode — stable under any partitioning,
  * unlike monotonically_increasing_id. At scale, one document = one file =
  * one task; parallelism comes from many files, ordering from the ordinals.
  */
object Transform {

  // ---------------------------------------------------------------- flatten

  /** P1: one row per ad with its positional ordinals. Input: one row per raw
    * JSON document with columns (doc_id: String, value: String).
    *
    * posexplode_outer, not posexplode: the plain variant makes Catalyst
    * infer a `size(groups) > 0` filter that pushdown rewrites as a second
    * from_json over the raw text — every document parsed twice. The outer
    * variant infers nothing; its padding row (empty/null array) has a NULL
    * ordinal, so filtering on the ordinal drops exactly the padding while
    * keeping genuine null ELEMENTS (null ad in a group → quarantine, the
    * engine's documented stricter-than-reference semantics, SURVEY §7.3).
    */
  def flatten(rawDocs: DataFrame): DataFrame =
    rawDocs
      .select(col("doc_id"), from_json(col("value"), AdSchema.rawDocument).as("groups"))
      .select(col("doc_id"), posexplode_outer(col("groups")).as(Seq("group_idx", "group")))
      .filter(col("group_idx").isNotNull)
      .select(col("doc_id"), col("group_idx"), posexplode_outer(col("group")).as(Seq("pos", "ad")))
      .filter(col("pos").isNotNull)

  // ----------------------------------------------------------------- derive

  /** Truthiness guard (F8): Python's `if s:` — null and "" are both falsy. */
  private def truthy(c: Column): Column = c.isNotNull && c =!= ""

  /** P2-P5 + F6. One narrow projection plus a single window pass (P3). */
  def derive(flat: DataFrame): DataFrame = {
    val ad   = col("ad")
    val fmt  = ad.getField("snapshot").getField("display_format")
    val cards = ad.getField("snapshot").getField("cards")

    // P5 media mix (transform_raw_data.py:73-103): DCO/CAROUSEL scan cards
    // for truthy urls; unknown formats → none.
    val hasVideo = when(fmt === "VIDEO", true)
      .when(fmt.isin("DCO", "CAROUSEL"),
        coalesce(exists(cards, c => truthy(c.getField("video_hd_url"))), lit(false)))
      .otherwise(false)
    val hasImage = when(fmt === "IMAGE", true)
      .when(fmt.isin("DCO", "CAROUSEL"),
        coalesce(exists(cards, c => truthy(c.getField("original_image_url"))), lit(false)))
      .otherwise(false)
    val mediaMix = when(hasVideo && hasImage, "both")
      .when(hasVideo, "video-only")
      .when(hasImage, "image-only")
      .otherwise("none")

    // P4 text (transform_raw_data.py:121-131): first card's body for
    // DCO/CAROUSEL else snapshot.body.text; any missing path → "" (row kept).
    // `get`, not `element_at`: an empty `cards` array is a missing path
    // (NULL), where ANSI element_at would fail the whole batch.
    val adText = coalesce(
      when(fmt.isin("DCO", "CAROUSEL"), get(cards, lit(0)).getField("body"))
        .otherwise(ad.getField("snapshot").getField("body").getField("text")),
      lit(""),
    )

    // P3 running max (transform_raw_data.py:114-116): group-scoped state in
    // file order. Rows the reference drops BEFORE reaching the state update
    // (KeyError on ad_archive_id/is_active/start_date, lines :107-110) must
    // not advance the max; rows that fail only later (bad epoch, enum, date
    // order) must. `contributes` mirrors that boundary.
    val contributes = ad.getField("ad_archive_id").isNotNull &&
      ad.getField("is_active").isNotNull && ad.getField("start_date").isNotNull
    val w = Window
      .partitionBy(col("doc_id"), col("group_idx"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runningMax = coalesce(
      max(when(contributes, coalesce(ad.getField("collation_count"), lit(0L)))).over(w),
      lit(0L),
    )

    flat.select(
      col("doc_id"), col("group_idx"), col("pos"),
      ad.getField("ad_archive_id").as("ad_id"),
      ad.getField("is_active").as("is_active"),
      ad.getField("start_date").as("start_date_ts"),
      ad.getField("end_date").as("end_date_ts"),
      ad.getField("total_active_time").as("total_active_time_sec"),
      ad.getField("collation_id").as("ad_group_id"),
      runningMax.as("grouped_ads_count"),
      fmt.as("display_format"),
      mediaMix.as("media_mix"),
      adText.as("ad_text"),
      LangId.langId(adText).as("ad_lang_code"),
    )
  }

  // --------------------------------------------------------------- validate

  /** V1-V5 as one when-chain producing the first failing rule's code
    * (pydantic field order: required presence → epoch validity → enum →
    * cross-field date order; transform_raw_data.py:32-70). NULL = valid.
    */
  def validationError: Column =
    when(col("ad_id").isNull, "missing:ad_id")
      .when(col("is_active").isNull, "missing:is_active")
      .when(col("start_date_ts").isNull, "missing:start_date_ts")
      .when(col("start_date_ts") < AdSchema.minEpoch ||
        col("start_date_ts") > AdSchema.maxEpoch, "invalid_epoch:start_date_ts")
      .when(col("end_date_ts").isNotNull &&
        (col("end_date_ts") < AdSchema.minEpoch ||
          col("end_date_ts") > AdSchema.maxEpoch), "invalid_epoch:end_date_ts")
      .when(col("display_format").isNull ||
        !col("display_format").isin(AdSchema.displayFormats: _*), "invalid_enum:display_format")
      // Python truthiness (transform_raw_data.py:67): the order check is
      // SKIPPED when either ts is 0 — reproduced exactly.
      .when(col("start_date_ts") =!= 0L && col("end_date_ts").isNotNull &&
        col("end_date_ts") =!= 0L && col("end_date_ts") < col("start_date_ts"),
        "end_before_start")

  /** One pass, two outputs (V5 split, transform_raw_data.py:166-179).
    * Callers should persist `parsed` first so the branches share the scan.
    */
  def validate(parsed: DataFrame): (DataFrame, DataFrame) = {
    val flagged = parsed.withColumn("validation_error", validationError)
    val valid = flagged.filter(col("validation_error").isNull).drop("validation_error")
    val quarantine = flagged
      .filter(col("validation_error").isNotNull)
      .select(
        struct(parsed.columns.map(col).toIndexedSeq: _*).as("record"),
        col("validation_error"),
      )
    (valid, quarantine)
  }

  // ------------------------------------------------------------------ dedup

  /** One keep-first pass: deterministic survivor = first in raw-file order.
    * Window partitioning groups NULL keys into one partition, reproducing
    * pandas' NaN-equal collapse (transform_raw_data.py:186, SURVEY §7.4).
    */
  def keepFirst(df: DataFrame, key: String): DataFrame =
    df.withColumn(
        "__rn",
        row_number().over(
          Window.partitionBy(col(key))
            .orderBy(col("doc_id"), col("group_idx"), col("pos"))),
      )
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** D1: three SEQUENTIAL passes (ad_id → ad_group_id → ad_text). Pass N+1
    * sees only pass N's survivors — a single combined pass is NOT equivalent
    * (transform_raw_data.py:182-189, SURVEY §2.5).
    */
  def dedup(valid: DataFrame): DataFrame =
    Seq("ad_id", "ad_group_id", "ad_text").foldLeft(valid)(keepFirst)

  // --------------------------------------------------------------- pipeline

  /** Full transform from raw documents; returns (curated, quarantine).
    * Drops the ordinal columns from the curated output (they exist to pin
    * order; the reference's parquet has only the 11 validated columns).
    */
  def transform(rawDocs: DataFrame): (DataFrame, DataFrame) = {
    val parsed = derive(flatten(rawDocs))
    val (valid, quarantine) = validate(parsed)
    val curated = dedup(valid)
      .select(AdSchema.validated.fieldNames.map(col).toIndexedSeq: _*)
    (curated, quarantine)
  }

  /** Typed veneer at the validation boundary (SURVEY §1.3). */
  def asValidated(curated: DataFrame)(implicit spark: SparkSession): Dataset[ValidatedAd] = {
    import spark.implicits._
    curated
      .withColumn("start_date_ts", col("start_date_ts").cast(LongType))
      .as[ValidatedAd]
  }
}
