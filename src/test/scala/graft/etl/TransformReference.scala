package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The window form of the P3 running max that [[Transform]] computed
  * before a native pass over each group's array replaced it: a max over
  * (doc_id, group_idx) ordered by pos. It shuffles and sorts every ad, and
  * two input rows sharing a doc_id would share a partition. Kept as the
  * reference the array form must agree with.
  */
object TransformReference {

  /** (doc_id, group_idx, pos, grouped_ads_count) over [[Transform.flatten]]'s rows. */
  def runningMax(flat: DataFrame): DataFrame = {
    val ad = col("ad")
    val contributes = ad.getField("ad_archive_id").isNotNull &&
      ad.getField("is_active").isNotNull && ad.getField("start_date").isNotNull
    val w = Window
      .partitionBy(col("doc_id"), col("group_idx"))
      .orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flat.select(col("doc_id"), col("group_idx"), col("pos"),
      coalesce(
        max(when(contributes, coalesce(ad.getField("collation_count"), lit(0L)))).over(w),
        lit(0L),
      ).as("grouped_ads_count"))
  }
}
