package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling for 100 TB aggregations.
  *
  * AQE's skew-join handles sort-merge join skew automatically; salting
  * is the explicit fallback for hash aggregations with hot keys. The
  * salt must be deterministic per row for retry safety — derived from
  * a stable row expression, not rand() (a task retry with rand() would
  * re-salt differently and drop/duplicate rows).
  */
object Skew {

  /** Two-phase (salted) aggregation for hot grouping keys: partial
    * aggregate on (key, salt), then final aggregate on key. Works for
    * algebraic aggregates (sum/count/min/max). */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
      buckets: Int, saltBy: Column): DataFrame = {
    val partial = df
      .withColumn("__salt", pmod(xxhash64(saltBy), lit(buckets)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(col(valueCol)).as("__s"), count(lit(1)).as("__c"))
    partial.groupBy(col(key))
      .agg(sum(col("__s")).as(s"sum_$valueCol"), sum(col("__c")).as("n"))
  }
}
