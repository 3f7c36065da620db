package graft.etl

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The report stage (generate_report.py:20-56): derived columns → active
  * filter → global top-10 → fixed projection.
  *
  * `now` is an injected parameter, NOT current_timestamp(), so runs are
  * reproducible (SURVEY §7.2). Rounding is bround = half-even, matching
  * numpy's `.round` (generate_report.py:32) — Spark's default `round` is
  * HALF_UP and would diverge on exact half-hours.
  */
object Report {

  val adLinkPrefix = "https://www.facebook.com/ads/library/?id="

  val reportColumns: Seq[String] = Seq(
    "ad_id", "ad_link", "is_active", "start_date", "end_date",
    "hours_passed", "media_mix", "ad_text", "ad_lang_code",
  )

  def report(curated: DataFrame, now: Instant, k: Int = 10): DataFrame = {
    // `now` is a decimal literal subtracted from a column: Catalyst cannot
    // fold it into a constant, so the generated code reads it as a
    // reference object and every run reuses one compiled class (a double
    // constant was inlined, two recompiles per run). Exact either way:
    // both operands are whole seconds below 2^53.
    val seconds = DecimalType(20, 0)
    val secondsPassed = coalesce(
      col("total_active_time_sec").cast(DoubleType),
      (lit(new java.math.BigDecimal(now.getEpochSecond)).cast(seconds) -
        col("start_date_ts").cast(seconds)).cast(DoubleType),
    )
    curated
      .withColumn("ad_link", concat(lit(adLinkPrefix), col("ad_id")))             // F1
      .withColumn("start_date", timestamp_seconds(col("start_date_ts")))          // F2
      .withColumn(                                                                // F3
        "end_date",
        when(col("end_date_ts").isNull || col("end_date_ts") === col("start_date_ts"),
          lit(null).cast(TimestampType))
          .otherwise(timestamp_seconds(col("end_date_ts"))),
      )
      .withColumn("hours_passed",                                                 // F4+F5
        bround(secondsPassed / 3600, 0).cast(LongType))
      .filter(col("is_active"))                                                   // P6
      // T1: orderBy+limit plans as TakeOrderedAndProject — per-partition
      // top-k heaps + one k-row gather, never a global sort. Tie-break on
      // ad_id pins the pandas stable-sort-by-input-order nondeterminism to
      // a total order (SURVEY §2.6).
      .orderBy(col("hours_passed").desc, col("ad_id").asc)
      .limit(k)
      .select(reportColumns.map(col).toIndexedSeq: _*)                            // P7
  }
}
