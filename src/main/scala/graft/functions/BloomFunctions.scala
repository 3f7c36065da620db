package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{call_function, lit}

/** SQL names and Column handles for Spark's bloom-filter expressions.
  *
  * Catalyst ships BloomFilterAggregate / BloomFilterMightContain for its
  * own runtime filtering (InjectRuntimeFilter) but does not register them
  * as callable functions. Exposing them through the same registry route as
  * the graft kernels gives the DECLARATIVE form of semi-join reduction:
  * build a compact sketch of the dim-side key set, broadcast it, and
  * prefilter the fact scan before the shuffle — the tool for keys too
  * numerous to broadcast-join exactly. False positives only cost wasted
  * shuffle rows; the exact join downstream removes them, so composed
  * results are row-identical to the plain join (which is what the oracle
  * checks).
  */
object BloomFunctions {

  val aggName = "graft_bloom_agg"
  val containsName = "graft_might_contain"

  def ensureRegistered(spark: SparkSession): Unit = Natives.install(spark)

  /** Aggregate an xxhash64-of-key column into a bloom filter sized for
    * `expectedItems` keys over `numBits` bits.
    */
  def bloomAgg(keyHash: Column, expectedItems: Long, numBits: Long): Column =
    call_function(aggName, keyHash, lit(expectedItems), lit(numBits))

  def mightContain(bloom: Column, keyHash: Column): Column =
    call_function(containsName, bloom, keyHash)
}
