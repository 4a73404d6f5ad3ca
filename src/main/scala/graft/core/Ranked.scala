package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArgBest

/** Top-per-group machinery: one winner per group ([[Ranked.argmax]])
  * or the first k ([[Ranked.topK]]).
  *
  * The reference implements every "dominant" pick as an ORDER BY cursor +
  * take-first-row-per-group (SortData, gSSURGO_CreateSoilMap.py:456-509).
  * The scalable Spark shape is a grouped arg-max rather than a
  * `row_number` window: it aggregates map-side, so the shuffle carries
  * one candidate per (group, map partition) instead of the whole
  * component table — the difference between shuffling ~100 TB and
  * shuffling the group cardinality. The arg-max is [[ArgBest]]. When
  * every order and payload column is fixed-width, its flat buffer
  * plans as a codegen'd partial + final HashAggregate, with an exchange
  * between them unless the input is already clustered on the group
  * key. A string or array column (a Choice rating, an ANN vector)
  * makes the buffer variable-width, and the pick plans Sort +
  * SortAggregate on each side instead.
  */
object Ranked {

  /** One row per group; the winner is the row whose `order` tuple is
    * greatest lexicographically, nulls lowest. Callers orient every
    * order column so that MAX selects the winner (negate numeric columns
    * that should sort ascending) and guarantee they are non-null.
    *
    * `payload` = (outputName -> expression) columns carried from the
    * winning row.
    */
  def argmax(
      df: DataFrame,
      groupCols: Seq[String],
      order: Seq[Column],
      payload: Seq[(String, Column)]): DataFrame = {
    df.groupBy(groupCols.map(col): _*)
      .agg(ArgBest.max(order, payload).as("__win"))
      .select(groupCols.map(col) ++ payload.map { case (n, _) => col(s"__win.$n").as(n) }: _*)
  }

  /** The `k` first rows of each `by` group under `order`, numbered
    * 1..k in a long `rank` column — the one top-k-per-group kernel, a
    * `row_number` window. For k up to Spark's window-group-limit
    * threshold the `rank <= k` filter plans as a partial
    * WindowGroupLimit before the exchange and a final one after it, so
    * the shuffle carries at most k rows per group and map partition,
    * every input column included. `order` must end in a unique key (an
    * id tiebreak) for the pick to be deterministic. A pre-limit by a
    * finer key (`by` plus a salt) followed by the group's own topK is
    * exact: the group's top k lie inside the union of the finer
    * groups' top k. */
  def topK(df: DataFrame, by: Seq[Column], order: Seq[Column], k: Int,
      rank: String = "rank"): DataFrame =
    df.withColumn(rank,
        row_number().over(Window.partitionBy(by: _*).orderBy(order: _*)).cast("long"))
      .filter(col(rank) <= k)

  /** Keep every row tied for the top of `orderCol` within its group —
    * the reference's multi-dominant-component tie retention
    * (AggregateHz_DCP_WTA, gSSURGO_CreateSoilMap.py:8739-8752).
    * Implemented as a self-join against the per-group max (both sides
    * partial-aggregate; no full-table window shuffle).
    */
  def keepTies(df: DataFrame, groupCols: Seq[String], orderCol: String): DataFrame = {
    val mx = df.groupBy(groupCols.map(col): _*)
      .agg(max(col(orderCol)).as("__mx"))
    df.join(mx, groupCols).filter(col(orderCol) === col("__mx")).drop("__mx")
  }
}
