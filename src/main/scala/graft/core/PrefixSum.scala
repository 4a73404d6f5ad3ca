package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exclusive prefix sum over a global order — the scan
  * primitive behind sequence packing, offset assignment, and
  * token-budget binning.
  *
  * A `sum() OVER (ORDER BY key)` window forces every row through ONE
  * partition. This is the classic two-pass scan instead:
  * range-repartition by the order key (partition p holds keys below
  * partition p+1), per-partition running sums via a partition-local
  * window, then per-partition totals — ONE row per partition — get
  * their own running offset and broadcast-join back. The only
  * single-partition window runs over those P total rows, bounded by
  * the partition count, never by the data (same trick as
  * [[DenseId]]'s zipWithIndex offsets). */
object PrefixSum {

  /** Adds `out` = sum of `valueCol` over all rows strictly before the
    * row in ascending `orderCol` order. `orderCol` values must be
    * UNIQUE (a tie spans no deterministic "before"); `valueCol` should
    * be integral so sums are exact and partitioning-independent.
    * Values may be negative — partition totals are `sum(valueCol)`,
    * not the max of the running sum (which only coincides with the
    * total when values are non-negative). */
  def exclusive(df: DataFrame, orderCol: String, valueCol: String,
      out: String = "prefix"): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val withPid = df.repartitionByRange(n, col(orderCol))
      .withColumn("__pid", spark_partition_id())
    val local = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val summed = withPid.withColumn("__incl", sum(col(valueCol)).over(local))
    val offsets = withPid.groupBy(col("__pid")).agg(sum(col(valueCol)).as("__tot"))
      .withColumn("__off",
        coalesce(sum(col("__tot")).over(
          Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__off"))
    summed.join(broadcast(offsets), "__pid")
      .withColumn(out, col("__incl") - col(valueCol) + col("__off"))
      .drop("__pid", "__incl", "__off")
  }
}
