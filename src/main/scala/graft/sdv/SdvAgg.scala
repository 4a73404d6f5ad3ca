package graft.sdv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArgBest

import graft.core.{Exprs, Ranked}

/** The 23 SDV aggregation algorithms (SURVEY.md §2.4, A1–A23) as pure
  * `DataFrame => DataFrame` combinators.
  *
  * Input contract — a component "rating table" with fixed column names:
  * {{{
  *   mukey      group key (any type)
  *   cokey      component key, numeric (deterministic final tiebreak)
  *   comppct    component weight (comppct_r), numeric, non-null
  *   rating     rated value (numeric or string)
  *   ratingOrd  numeric ordinal of the rating under the tiebreak domain:
  *              = rating for numeric attributes, = domain index for
  *              Choice attributes (Exprs.domainRank). Non-null.
  * }}}
  * Month-level inputs add `month`; horizon-level inputs use
  * (mukey, cokey, comppct, hzdept, hzdepb, rating[, ratingOrd]).
  *
  * Output: one row per mukey, (mukey, rating[, comppct]) unless noted.
  *
  * Scale notes: every combinator is groupBy/agg-shaped (map-side partial
  * aggregation, AQE-friendly) — no row_number windows over the full fact
  * table, no driver-side state. References cite /root/reference.
  *
  * ANSI note: weighted-average shapes divide by Σ comppct of rated
  * rows; callers must exclude zero-weight components (the reference's
  * comppct cutoff does this — the planner applies it as F2). A group
  * whose rated weights sum to exactly 0 would raise under Spark's ANSI
  * mode rather than silently emit Inf/NaN.
  */
object SdvAgg {

  private val m = col("mukey")

  /** Tie orientation: under MAX-selection, prefer LOW rating when the
    * tiebreak rule says "lower" (tiebreakrule = -1). */
  private def tieCol(tieLow: Boolean): Column =
    if (tieLow) -col("ratingOrd") else col("ratingOrd")

  // ---------------------------------------------------------------------
  // A1 — No Aggregation Necessary (Aggregate1,
  // gSSURGO_CreateSoilMap.py:4720-4808): mapunit-level passthrough.
  // Precision rounding applies only to numeric ratings (:4765 rounds
  // inside the float branch); Choice/String ratings pass through
  // unchanged — rounding them would force a string→double cast that
  // throws under Spark 4's ANSI mode.
  def noAggregation(df: DataFrame, scale: Int = 2, numeric: Boolean = true): DataFrame =
    if (numeric) df.select(m, round(col("rating"), scale).as("rating"))
    else df.select(m, col("rating"))

  /** The legend side-output every aggregate computes (outputValues,
    * e.g. gSSURGO_CreateSoilMap.py:4766-4776): global [min,max] of the
    * rating — a tiny separate agg pass. */
  def legendRange(df: DataFrame): DataFrame =
    df.agg(min(col("rating")).as("rating_min"), max(col("rating")).as("rating_max"))

  // ---------------------------------------------------------------------
  // A2 — Dominant Component (AggregateCo_DCP,
  // gSSURGO_CreateSoilMap.py:4810-4986). Highest comppct wins; comppct
  // ties broken by rating order (sort :4833-4838), then highest cokey
  // (the reference's COKEY DESC cursor order, GetDominantComponent.py:
  // 89-117 — also type-agnostic for SSURGO's string cokeys).
  // A5 — AggregateCo_DCP_Domain (:7752-7979) is the same pick with
  // ratingOrd = domain index.
  def dominantComponent(df: DataFrame, tieLow: Boolean = true): DataFrame =
    Ranked.argmax(df, Seq("mukey"),
      Seq(col("comppct"), tieCol(tieLow), col("cokey")),
      Seq("rating" -> col("rating"), "comppct" -> col("comppct")))

  // ---------------------------------------------------------------------
  // A3 — Dominant Condition (AggregateCo_DCD,
  // gSSURGO_CreateSoilMap.py:5564-5892): sum comppct per rating value;
  // if the dominant *component*'s comppct >= trumpPct its rating wins
  // (:5768-5787), else the rating with max summed pct (ties by rating
  // order). Output pct is normalized: 100 * classPct / totalPct.
  // A4 — AggregateCo_DCD_Domain (:7339-7750) = same with domain ordinal.
  // Physical shape: two aggregations, no joins. Pass 1 groups by
  // (mukey, rating) keeping the class pct-sum plus the class's best
  // component (max comppct, then max cokey — its per-class
  // representative). Pass 2 groups by mukey and picks, in one agg, the
  // dominant *condition* (max sumpct), the dominant *component* (argmax
  // over class representatives — equivalent to the component-level
  // argmax because ratingOrd is constant within a class), and the
  // total. The naive form (separate DCP + 3 joins) shuffles the fact
  // table four times; this shuffles it once plus the tiny byRating set.
  // Every pick is an ArgBest, so with a numeric rating each pass plans
  // as a partial + final codegen'd HashAggregate: four of them and two
  // exchanges (on (mukey, rating), then on mukey) over a plain scan,
  // and no exchange at all over a cache hash-clustered on mukey's
  // source key (Tables.load), as a03 runs in a bench session. A string
  // rating (a04, a Choice domain) makes the buffers variable-width, and
  // each aggregate plans Sort + SortAggregate instead.
  def dominantCondition(
      df: DataFrame,
      tieLow: Boolean = true,
      trumpPct: Option[Double] = Some(50.0),
      scale: Int = 4): DataFrame = {
    val byRating = df.groupBy(m, col("rating")).agg(
      sum(col("comppct")).as("sumpct"),
      max(col("ratingOrd")).as("ratingOrd"),
      ArgBest.max(Seq(col("comppct"), col("cokey")),
        Seq("pct" -> col("comppct"), "cokey" -> col("cokey"))).as("best"))
    val tie = tieCol(tieLow)
    val condTot = byRating.groupBy(m).agg(
      ArgBest.max(Seq(col("sumpct"), tie),
        Seq("r" -> col("rating"), "sp" -> col("sumpct"))).as("cond"),
      ArgBest.max(Seq(col("best.pct"), tie, col("best.cokey")),
        Seq("r" -> col("rating"), "sp" -> col("sumpct"), "pct" -> col("best.pct"))).as("dcp"),
      sum(col("sumpct")).as("totalpct"))
    // When the trump fires, the reference reports the dominant
    // COMPONENT's pct (dcpPct), not its rating-class sum
    // (gSSURGO_CreateSoilMap.py:5778-5780: muPct = 100·dcpPct/totalPct).
    val win = trumpPct match {
      case Some(t) => when(col("dcp.pct") >= t,
          struct(col("dcp.r").as("r"), col("dcp.pct").as("sp")))
        .otherwise(struct(col("cond.r").as("r"), col("cond.sp").as("sp")))
      case None => struct(col("cond.r").as("r"), col("cond.sp").as("sp"))
    }
    condTot.select(m, win.as("win"), col("totalpct"))
      .select(m, col("win.r").as("rating"),
        Exprs.roundHalfUp(lit(100) * col("win.sp") / col("totalpct"), scale).as("comppct"))
  }

  // ---------------------------------------------------------------------
  // A6 — Weighted Average (AggregateCo_WTA,
  // gSSURGO_CreateSoilMap.py:7981-8203): sum(pct*rating)/sum(pct) over
  // components with a non-null rating (product :8152-8158, mean :8115).
  // Numeric ratings only.
  def weightedAverage(df: DataFrame, scale: Int = 4): DataFrame = {
    val rated = col("rating").isNotNull
    df.groupBy(m).agg(
      Exprs.roundHalfUp(sum(when(rated, col("comppct") * col("rating")))
        / sum(when(rated, col("comppct"))), scale).as("rating"),
      sum(when(rated, col("comppct"))).as("comppct"))
  }

  // ---------------------------------------------------------------------
  // A7 — Minimum or Maximum (AggregateCo_MaxMin,
  // gSSURGO_CreateSoilMap.py:5230-5562): extreme of ratingOrd across
  // components. 'Not rated' rows (ratingOrd == notRatedOrd) are skipped
  // unless no rated row exists (:5415-5422).
  def maxMin(df: DataFrame, most: Boolean, notRatedOrd: Option[Double] = None): DataFrame = {
    // rating value as the final tiebreak: for no-domain Choice inputs the
    // planner sets ratingOrd = 0 on every row, so ordering on ratingOrd
    // alone would leave the winner partition-dependent (same degenerate
    // case limiting() tie-breaks explicitly).
    val key = Seq(col("ratingOrd"), col("rating"))
    val rated = notRatedOrd.fold(lit(true))(o => col("ratingOrd") =!= o)
    val pick = Seq("rating" -> col("rating"))
    val extreme =
      (if (most) ArgBest.max(key, pick, rated) else ArgBest.min(key, pick, rated))
        .getField("rating")
    // Fallback fires only when every row was 'Not rated' (single literal).
    df.groupBy(m).agg(
      coalesce(extreme, first(col("rating"))).as("rating"))
  }

  // ---------------------------------------------------------------------
  // A8 — Most / Least Limiting (AggregateCo_Limiting,
  // gSSURGO_CreateSoilMap.py:4988-5228; least :5093-5135, most
  // :5140-5180). `most=true` picks the MAX ratingOrd — callers choose
  // the direction against their domain's order (NASIS interp domains
  // are most-limiting-first, so the planner maps Most Limiting to
  // most=false; suitability interps flip the domain upstream,
  // ruledesign==2, :9942-9944). 'Not rated' loses to any rated class
  // but wins when alone (:5168-5171 indexes[1] skip, here done
  // position-independently via the rated-first flag). Reports the
  // summed comppct of the winning class.
  def limiting(df: DataFrame, most: Boolean, notRatedOrd: Option[Double] = None): DataFrame = {
    val byRating = df.groupBy(m, col("rating"))
      .agg(sum(col("comppct")).as("comppct"), max(col("ratingOrd")).as("ratingOrd"))
    val ratedFlag = notRatedOrd match {
      case Some(o) => when(col("ratingOrd") =!= o, lit(1)).otherwise(lit(0))
      case None    => lit(1)
    }
    val orient = if (most) col("ratingOrd") else -col("ratingOrd")
    // final tiebreak on the rating value itself: ordinal ties only occur
    // for degenerate/no-domain inputs, where the pick must still be
    // deterministic across partitionings
    Ranked.argmax(byRating, Seq("mukey"),
      Seq(ratedFlag, orient, col("rating")),
      Seq("rating" -> col("rating"), "comppct" -> col("comppct")))
  }

  // ---------------------------------------------------------------------
  // A9 — Percent Present (AggregateCo_PP_SUM,
  // gSSURGO_CreateSoilMap.py:8205-8306): sum comppct of components
  // matching `cond` (target parsed from the sdv whereclause, :8240);
  // mapunits with no match report 0 (:8290-8294). `base` = the full
  // mapunit key universe (one column `mukey`).
  def percentPresent(df: DataFrame, base: DataFrame, cond: Column): DataFrame =
    base.select(m).join(
        df.filter(cond).groupBy(m).agg(sum(col("comppct")).as("matchpct")),
        Seq("mukey"), "left")
      .select(m, coalesce(col("matchpct"), lit(0.0)).as("comppct"))

  // ---------------------------------------------------------------------
  // Month family pre-steps. Month-level input carries one row per
  // (cokey, month[, value]); comppct is constant within cokey.

  /** Per-component extreme over months — the DTWT pre-step (A10–A12,
    * A17; AggregateCo_DCP_DTWT gSSURGO_CreateSoilMap.py:5894-5981,
    * monthly min/max :7140-7155). Null monthly values take the
    * nullratingreplacementvalue sentinel first (201 cm for DTWT,
    * :9725-9745). Returns a component-level rating table. */
  def perComponentMonthlyExtreme(
      df: DataFrame, most: Boolean, sentinel: Option[Double] = None): DataFrame = {
    val v = sentinel.map(s => Exprs.nullSentinel(col("rating"), s)).getOrElse(col("rating"))
    df.groupBy(m, col("cokey"), col("comppct"))
      .agg((if (most) max(v) else min(v)).as("rating"))
      .withColumn("ratingOrd", col("rating"))
  }

  /** Per-component extreme month by domain ordinal — the
    * flooding/ponding pre-step (A15/A16; AggregateCo_Mo_DCP_Domain,
    * gSSURGO_CreateSoilMap.py:6556-6567). The direction follows the
    * tiebreaker: High (the flooding/ponding default) takes the MAX
    * domain index per component, Low the MIN. */
  def perComponentMonthlyWorst(df: DataFrame, most: Boolean = true): DataFrame =
    df.groupBy(m, col("cokey"), col("comppct"))
      .agg(
        (if (most) max_by(col("rating"), col("ratingOrd"))
         else min_by(col("rating"), col("ratingOrd"))).as("rating"),
        (if (most) max(col("ratingOrd")) else min(col("ratingOrd"))).as("ratingOrd"))

  // A10 — monthly extreme then Dominant Component (:5894-5981).
  def moDominantComponent(df: DataFrame, most: Boolean,
      sentinel: Option[Double] = None, tieLow: Boolean = true): DataFrame =
    dominantComponent(perComponentMonthlyExtreme(df, most, sentinel), tieLow)

  /** Shared month-family final step (A11/A16): class pct sums over
    * per-component extremes, winner = max class sum with its RAW pct —
    * no 50%-trump, no normalization, unlike the component-level DCD.
    * Ties break by ratingOrd then the rating value itself (the
    * reference's dict iteration is partition-order luck; the pick must
    * be deterministic across partitionings). */
  private def rawDominantCondition(pc: DataFrame, tieLow: Boolean): DataFrame = {
    val byRating = pc.groupBy(m, col("rating"))
      .agg(sum(col("comppct")).as("comppct"), max(col("ratingOrd")).as("ratingOrd"))
    Ranked.argmax(byRating, Seq("mukey"),
      Seq(col("comppct"), tieCol(tieLow), col("rating")),
      Seq("rating" -> col("rating"), "comppct" -> col("comppct")))
  }

  // A11 — AggregateCo_DCD_DTWT (:5983-6107): sentinel for null months,
  // per-component tiebreak-directed monthly extreme, then the raw
  // class-sum winner (:6061-6082).
  def moDominantCondition(df: DataFrame, most: Boolean,
      sentinel: Option[Double] = None, tieLow: Boolean = true): DataFrame =
    rawDominantCondition(perComponentMonthlyExtreme(df, most, sentinel), tieLow)

  // A12 — monthly extreme then WTA (AggregateCo_WTA_DTWT, :7209-7337).
  def moWeightedAverage(df: DataFrame, most: Boolean,
      sentinel: Option[Double] = None, scale: Int = 4): DataFrame =
    weightedAverage(perComponentMonthlyExtreme(df, most, sentinel), scale)

  // A13 — month-expanded Min/Max (AggregateCo_Mo_MaxMin, :6109-6287):
  // per-component extreme over months (0-pct components included,
  // :6115-6116), comppct summed per extreme-rating class (:6210-6228),
  // and the mapunit takes the extreme rating with its class pct
  // (:6230-6248). All ordering is by ratingOrd (numeric), so Choice
  // attributes keep their domain ranking.
  def moMaxMin(df: DataFrame, most: Boolean): DataFrame = {
    val pc = perComponentMonthlyWorst(df, most)
    val byRating = pc.groupBy(m, col("rating"))
      .agg(sum(col("comppct")).as("comppct"), max(col("ratingOrd")).as("ratingOrd"))
    Ranked.argmax(byRating, Seq("mukey"),
      Seq(if (most) col("ratingOrd") else -col("ratingOrd")),
      Seq("rating" -> col("rating"), "comppct" -> col("comppct")))
  }

  // A14 — AggregateCo_Mo_DCD (:6289-6411). Despite its name, the
  // reference's current implementation is NOT a condition-sum: null
  // months take the nullratingreplacement sentinel FIRST (:6341-6342 —
  // so a sentinel month can win under tiebreak-high), each component
  // takes its tiebreak-directed extreme over months (fixing the "12X"
  // comppct bug noted at :6297), and the mapunit reports the dominant
  // component's raw (comppct, rating) with no normalization
  // (:6374-6386). Without a sentinel, null months drop. The extreme
  // direction follows ratingOrd.
  def moDominantConditionDedup(df: DataFrame, tieLow: Boolean = true,
      sentinel: Option[Double] = None): DataFrame = {
    val withSentinel = sentinel match {
      case Some(s) => df
        .withColumn("rating", coalesce(col("rating"), lit(s)))
        .withColumn("ratingOrd", coalesce(col("ratingOrd"), lit(s)))
      case None => df.filter(col("rating").isNotNull)
    }
    val pc = withSentinel.groupBy(m, col("cokey"), col("comppct")).agg(
      (if (tieLow) min_by(col("rating"), col("ratingOrd"))
       else max_by(col("rating"), col("ratingOrd"))).as("rating"),
      (if (tieLow) min(col("ratingOrd")) else max(col("ratingOrd"))).as("ratingOrd"))
    dominantComponent(pc, tieLow)
  }

  // A15 — per-component extreme month (domain) then DCP (:6413-6649);
  // the tiebreaker drives both levels (month direction + DCP tie).
  def moDomainDominantComponent(df: DataFrame, tieLow: Boolean = true): DataFrame =
    dominantComponent(perComponentMonthlyWorst(df, most = !tieLow), tieLow)

  // A16 — AggregateCo_Mo_DCD_Domain (:6651-7055): per-component extreme
  // month by domain, then the raw class-sum winner (:6977-6990). The
  // reference's acknowledged 12X cokey duplication (":6963 each cokey
  // could be listed 12X") is fixed by aggregating one extreme row per
  // component, as its own A14 fix does. Off-domain month values must be
  // filtered upstream (the reference KeyError-skips them; the planner
  // does this for month-level Choice attributes).
  def moDomainDominantCondition(df: DataFrame, tieLow: Boolean = true): DataFrame =
    rawDominantCondition(perComponentMonthlyWorst(df, most = !tieLow), tieLow)

  // A17 — per-component monthly extreme then WTA (AggregateCo_Mo_WTA,
  // :7057-7207).
  def moWta(df: DataFrame, most: Boolean, scale: Int = 4): DataFrame =
    weightedAverage(perComponentMonthlyExtreme(df, most, None), scale)

  // ---------------------------------------------------------------------
  // Horizon family. Input columns: mukey, cokey, comppct, hzdept,
  // hzdepb, rating (numeric unless noted). Slice [top, bot) in cm.

  private def hzT(top: Int, bot: Int): Column =
    Exprs.depthOverlap(col("hzdept"), col("hzdepb"), top, bot)

  /** Per-component Σ overlap·rating and Σ overlap — the inner loop every
    * Hz aggregate shares (gSSURGO_CreateSoilMap.py:8398-8449). Null
    * ratings contribute to neither sum. */
  private def perComponentSliceSums(df: DataFrame, top: Int, bot: Int): DataFrame = {
    val rated = col("rating").isNotNull && hzT(top, bot) > 0
    df.groupBy(m, col("cokey"), col("comppct"))
      .agg(sum(when(rated, hzT(top, bot) * col("rating"))).as("compval"),
        sum(when(rated, hzT(top, bot))).as("thick"))
  }

  // A18 — AggregateHz_WTA_SUM (:8308-8482, AWS pattern): component value
  // = Σ_hz overlap·rating; mapunit = Σ (comppct/sumPct)·compVal, with the
  // slice thickness weighted the same way (adj :8440-8449).
  def hzWtaSum(df: DataFrame, top: Int, bot: Int, scale: Int = 4): DataFrame = {
    val perCo = perComponentSliceSums(df, top, bot)
    val ok = col("compval").isNotNull
    perCo.groupBy(m).agg(
      Exprs.roundHalfUp(sum(when(ok, col("comppct") * col("compval")))
        / sum(when(ok, col("comppct"))), scale).as("rating"),
      Exprs.roundHalfUp(sum(when(ok, col("comppct") * col("thick")))
        / sum(when(ok, col("comppct"))), scale).as("thickness"))
  }

  // A19 — AggregateHz_WTA_WTA (:8484-8637, AWC pattern): per-component
  // depth-weighted mean Σ(hzT·val)/Σ(hzT) (:8553, divisor :8593-8600),
  // then comppct-weighted average across components.
  def hzWtaWta(df: DataFrame, top: Int, bot: Int, scale: Int = 4): DataFrame = {
    // the per-component depth-weighted mean is a ratio of integer-exact
    // sums (bit-identical in any engine), but comppct-weighting those
    // NON-integer ratios makes the outer sum order-dependent in the
    // last ulp — enough to flip the scale-4 rounding on a boundary row
    // (observed once at sf0.1). Quantizing each ratio to an integer at
    // 1e-8 (far below the output precision) restores order-independent
    // integer-valued sums; the oracle mirrors the same quantization.
    // CAVEAT: exactness needs comppct·rE8 < 2^53, i.e. |rating| below
    // ~1e6 at this quantum — true of every SSURGO hz attribute (AWC,
    // Db, OM, K are all < 1e3); a larger-magnitude attribute would
    // need a coarser quantum.
    val perCo = perComponentSliceSums(df, top, bot)
      .select(m, col("comppct"),
        floor(col("compval") / col("thick") * 1e8 + 0.5).as("rE8"))
    // final rounding in floor(x·10^s+0.5)/10^s form: the ratio itself
    // is bit-identical cross-engine, but Spark's BigDecimal round()
    // and DuckDB's scaled-double round() disagree when the decimal
    // expansion sits on a .5 boundary (observed at sf0.1); the floor
    // form is plain double arithmetic and matches anywhere.
    val p = math.pow(10, scale)
    val rated = col("rE8").isNotNull
    perCo.groupBy(m).agg(
      (floor(sum(when(rated, col("comppct") * col("rE8")))
        / sum(when(rated, col("comppct"))) / 1e8 * p + 0.5) / p).as("rating"),
      sum(when(rated, col("comppct"))).as("comppct"))
  }

  // A20 — AggregateHz_DCP_WTA (:8639-8893): all components tied for max
  // comppct are kept (:8739-8752); the depth-weighted mean is taken over
  // the union of their horizons.
  def hzDcpWta(df: DataFrame, top: Int, bot: Int, scale: Int = 4): DataFrame = {
    val dom = Ranked.keepTies(df, Seq("mukey"), "comppct")
    val rated = col("rating").isNotNull && hzT(top, bot) > 0
    dom.groupBy(m).agg(
      Exprs.roundHalfUp(sum(when(rated, hzT(top, bot) * col("rating")))
        / sum(when(rated, hzT(top, bot))), scale).as("rating"))
  }

  // A21 — AggregateHz_MaxMin_WTA (:8895-9050): per-component
  // depth-weighted mean over the slice, then min/max across components.
  def hzMaxMinWta(df: DataFrame, most: Boolean, top: Int, bot: Int, scale: Int = 4): DataFrame = {
    val perCo = perComponentSliceSums(df, top, bot)
      .select(m, Exprs.roundHalfUp(col("compval") / col("thick"), scale).as("compmean"))
    perCo.groupBy(m).agg(
      (if (most) max(col("compmean")) else min(col("compmean"))).as("rating"))
  }

  /** Collapse a horizon-level rating table to one row per component by
    * the tiebreak-directed extreme RAW rating value. Mirrors what the
    * Co_* aggregations actually do when the dispatch feeds them
    * horizon-level rows (Surface / non-K-Factor hz attributes,
    * :10762-10772, :10780-10810): the cursor sorts by the attribute
    * column (ASC under tiebreak-Low, :5595-5599) and `dComp[cokey] = …`
    * keeps the LAST row, i.e. the max (Low) / min (High) rating per
    * component. For Surface attributes the input already has one row
    * per component and this is a no-op. (The reference also
    * double-appends cokeys into dMapunit for multi-horizon input,
    * double-counting comppct — a cursor artifact on a path its own
    * comments call untested; we deliberately do not reproduce it.) */
  def perComponentExtreme(df: DataFrame, most: Boolean): DataFrame = {
    val key = Seq(col("rating"), col("ratingOrd"))
    val pick = Seq("r" -> col("rating"), "o" -> col("ratingOrd"))
    df.filter(col("rating").isNotNull)
      .groupBy(m, col("cokey"), col("comppct"))
      .agg((if (most) ArgBest.max(key, pick) else ArgBest.min(key, pick)).as("p"))
      .select(m, col("cokey"), col("comppct"),
        col("p.r").as("rating"), col("p.o").as("ratingOrd"))
  }

  /** Per-component worst horizon rating inside the slice (K-factor
    * pre-step for A22/A23; :9052-9346). Requires ratingOrd. */
  private def perComponentWorstHorizon(df: DataFrame, top: Int, bot: Int): DataFrame =
    df.filter(Exprs.overlaps(col("hzdept"), col("hzdepb"), lit(top), lit(bot))
        && col("rating").isNotNull)
      .groupBy(m, col("cokey"), col("comppct"))
      .agg(max_by(col("rating"), col("ratingOrd")).as("rating"),
        max(col("ratingOrd")).as("ratingOrd"))

  // A22 — AggregateHz_MaxMin_DCD (:9052-9199, K-factor): despite the
  // name, NOT a condition sum. Per component: the worst (max domain
  // index) rating over overlapping horizons (:9121-9141). Per mapunit:
  // SortData(muVals, 0, 0, True, True) (:9165-9169) — a comppct-only
  // descending sort, i.e. the dominant COMPONENT wins and reports its
  // RAW comppct; no 50% trump, no class pct sums, no normalization.
  // Reference ties are cursor-order-arbitrary; we tie-break
  // deterministically the same way as A23 (rating order, then cokey).
  // Implemented as the A23 pipeline — after removing A22's dead "DCD"
  // scaffolding both reduce to dominant-component-of-worst-horizon, and
  // a single body keeps them from drifting apart.
  def hzMaxMinDcd(df: DataFrame, top: Int, bot: Int, tieLow: Boolean = true): DataFrame =
    hzMaxMinDcp(df, top, bot, tieLow)

  // A23 — AggregateHz_MaxMin_DCP (:9201-9346): per-component worst
  // horizon rating, then Dominant Component.
  def hzMaxMinDcp(df: DataFrame, top: Int, bot: Int, tieLow: Boolean = true): DataFrame =
    dominantComponent(perComponentWorstHorizon(df, top, bot), tieLow)
}
