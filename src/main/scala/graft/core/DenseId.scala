package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dense consecutive-integer id assignment for a key domain — the
  * rasterization CELLVALUE lookup (SSURGO_ExportMuRaster.py:1252-1357
  * builds mukey→int for the raster attribute table).
  *
  * A `dense_rank() OVER (ORDER BY key)` computes the same thing but
  * forces every row through ONE partition (a global-order window). This
  * instead range-repartitions the distinct keys, sorts within each
  * partition (globally sorted because range partitions are ordered),
  * and zipWithIndex assigns offsets from per-partition counts — two
  * distributed passes, no single-partition exchange, deterministic ids
  * (they depend only on the sorted key order, not on partition bounds).
  */
object DenseId {

  /** (key, `outCol`) lookup over the distinct non-null values of
    * `keyCol` in `df`, ids consecutive from 1 in ascending key order.
    * Join it back to the fact rows for the per-row cell value. */
  def lookup(df: DataFrame, keyCol: String, outCol: String = "cellvalue"): DataFrame = {
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val keys = df.select(col(keyCol)).where(col(keyCol).isNotNull).distinct()
    val sorted = keys.repartitionByRange(n, col(keyCol)).sortWithinPartitions(keyCol)
    val schema = sorted.schema.add(outCol, LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex()
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    spark.createDataFrame(rdd, schema)
  }
}
