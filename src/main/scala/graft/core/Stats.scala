package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArgBest

/** Scale-safe summary statistics. */
object Stats {

  /** Shared per-(group, value) cumulative-count shape: one row per
    * distinct (group, value) pair with its count `c`, running count
    * `cum` in value order, and group total `n`. The partial-aggregating
    * hash shuffle carries distinct pairs, not fact rows; the windows
    * run over the tiny per-group distribution. Nulls are ignored (a
    * group that is all-null disappears — callers left-join if they
    * need it back). */
  private def cumCounts(df: DataFrame, groupCol: String, valueCol: String,
      maxDistinct: Int): DataFrame = {
    // the chain below introduces its own c/cum/n columns; a value or
    // group column with one of those names would be silently replaced
    // (withColumn) and the quantile would rank against the wrong data
    require(!Set("c", "cum", "n").contains(valueCol) &&
        !Set("c", "cum", "n").contains(groupCol),
      s"Stats: column names c/cum/n are reserved by the quantile chain — " +
        s"rename '$valueCol'/'$groupCol' before calling")
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("c"))
    val byVal = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val all = Window.partitionBy(col(groupCol))
    // Cardinality guard: this shape is only scale-safe when
    // |distinct values| ≪ |rows| — a continuous double column silently
    // degrades to a per-group sort of every distinct value. assert_true
    // fails the job loudly at execution; it rides on `n` (NULL when the
    // check passes, so adding it is a no-op) because a free-standing
    // guard column would be pruned out of the plan. The distinct count
    // reuses the unordered `all` window — no extra shuffle or sort.
    val guard = assert_true(count(lit(1)).over(all) <= maxDistinct,
      lit(s"Stats: more than $maxDistinct distinct values in a group — " +
        "this exact-quantile shape would sort them all; use approx_percentile " +
        "for continuous domains or raise maxDistinct explicitly"))
    counts
      .withColumn("cum", sum(col("c")).over(byVal))
      .withColumn("n", sum(col("c")).over(all) + coalesce(guard.cast("long"), lit(0L)))
  }

  /** Exact per-group median for LOW-CARDINALITY value domains (enum-ish
    * measures like quantities, ratings, scores).
    *
    * `median()` sorts every row of each group; this instead counts by
    * (group, value) — see [[cumCounts]] — and interpolates the median
    * from the tiny per-group distribution. Exact-equal to `median()`
    * for any input; the win requires |distinct values| ≪ |rows|, which
    * is what the reconciliation-report measures here look like. */
  def groupedMedian(df: DataFrame, groupCol: String, valueCol: String,
      out: String = "median", maxDistinct: Int = 1000000): DataFrame = {
    val cum = cumCounts(df, groupCol, valueCol, maxDistinct)
    // interpolated median: mean of the values at 1-based positions
    // floor((n+1)/2) and floor(n/2)+1 (equal when n is odd)
    val loPos = (col("n") + 1) / 2
    val hiPos = col("n") / 2 + 1
    cum.groupBy(col(groupCol)).agg(
      ((min(when(col("cum") >= floor(loPos), col(valueCol))) +
        min(when(col("cum") >= floor(hiPos), col(valueCol)))) / 2.0).as(out))
  }

  /** Exact per-group nearest-rank quantiles (inverse CDF: the smallest
    * value whose cumulative count reaches ceil(n·p/100)) — several
    * percentiles in ONE pass over the [[cumCounts]] shape, one
    * min(when) aggregate each. The rank is true integer arithmetic
    * ((n·pPct + 99) div 100 — BIGINT division, engine-portable with no
    * float rounding at any n). pPct ∈ [1, 100]; 100 = max, 50 = lower
    * median. */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      pcts: Seq[(Int, String)], maxDistinct: Int = 1000000): DataFrame = {
    require(pcts.nonEmpty, "at least one percentile")
    pcts.foreach { case (p, _) =>
      require(p >= 1 && p <= 100, s"pPct $p outside [1, 100]") }
    val cum = cumCounts(df, groupCol, valueCol, maxDistinct)
    val aggs = pcts.map { case (p, out) =>
      min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col(valueCol))).as(out)
    }
    cum.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Single-percentile convenience over [[groupedQuantiles]]. */
  def groupedQuantile(df: DataFrame, groupCol: String, valueCol: String,
      pPct: Int, out: String = "quantile"): DataFrame =
    groupedQuantiles(df, groupCol, valueCol, Seq(pPct -> out))

  /** The guard's documented escape hatch for genuinely continuous
    * domains: approximate per-group percentiles via the t-digest-backed
    * `approx_percentile` — one ordinary aggregation, no per-value rows,
    * scale-safe at any cardinality. */
  def groupedApproxQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      pcts: Seq[(Int, String)], accuracy: Int = 10000): DataFrame = {
    require(pcts.nonEmpty, "at least one percentile")
    val aggs = pcts.map { case (p, out) =>
      percentile_approx(col(valueCol), lit(p / 100.0), lit(accuracy)).as(out)
    }
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact per-group mode with a deterministic tiebreak (highest count,
    * then SMALLEST value — `mode()`'s tie winner is engine/partition
    * luck) and the mode's count. Same two-aggregation shape as the
    * quantiles: the first shuffle carries distinct (group, value)
    * pairs with map-side partial counts, the second is an arg-min
    * over the tiny per-group distribution — no window, no row sort.
    * Nulls are ignored; an all-null group disappears. */
  def groupedMode(df: DataFrame, groupCol: String, valueCol: String,
      out: String = "mode"): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("c"))
    // lexicographic min over (-count, value) = count desc, value asc
    counts.groupBy(col(groupCol)).agg(
      ArgBest.min(Seq(-col("c"), col(valueCol)), Seq(out -> col(valueCol)))
        .getField(out).as(out),
      max(col("c")).as(s"${out}_n"))
  }
}
