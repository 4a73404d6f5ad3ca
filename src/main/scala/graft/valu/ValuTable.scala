package graft.valu

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Materialize

import graft.core.Exprs

/** V14 — CreateValuTable (gSSURGO_ValuTable.py:2992-3271): the Valu1
  * assembly DAG. Each Calc* stage is an independent aggregation over the
  * shared horizon query table; results join wide on mukey. The reference
  * re-scans its materialized QueryTable_HZ per stage with its own
  * cursor sort (:3083-3160); here the stages are lazy plans over one
  * checkpointed DataFrame and Catalyst/AQE handle the rest. */
object ValuTable {

  /** Assemble the wide Valu1 table from the stage outputs. `base` is the
    * mapunit key universe; every stage joins left so mapunits missing a
    * stage keep nulls (the reference's pre-created output table rows). */
  def assemble(base: DataFrame, stages: Seq[DataFrame]): DataFrame =
    stages.foldLeft(base)((acc, s) => acc.join(s, Seq("mukey"), "left"))

  /** The full pipeline over a standardized horizon table (columns:
    * mukey, cokey, comppct, hzdept, hzdepb, rating=awc, om, db3i,
    * fragvol) + component table (mukey, cokey, comppct + flag columns).
    * Mirrors the stage order of the reference main (:3083-3160).
    *
    * `major`/`earthy` must be evaluable on BOTH comp and hz (they gate
    * the sumPct tallies and the RZAWS component filter). `interp` must
    * already be restricted to major components (the NCCPI query table
    * J12 filters majcompflag='Yes', gSSURGO_ValuTable.py:2058-2069). */
  def build(
      base: DataFrame,
      hz: DataFrame,
      comp: DataFrame,
      major: Column, earthy: Column, organic: Column,
      restricted: Column,
      water: Column, hydric: Column,
      interp: DataFrame, nccpiRules: Seq[(String, String)],
      socSlices: Seq[(Int, Int)] = Valu.valu1Slices): DataFrame = {

    val cached = Materialize.checkpoint(hz, eager = false)
    val gsum = Valu.sumPct(comp, major, earthy)
    // GetSumPct supplies musumcpct (all components, the table-creation
    // fill :611-625) and pctearthmc; musumcpcta/musumcpcts are NOT
    // GetSumPct values — the AWS and SOC passes write back their own
    // contributing-component pct sums (:1652-1656, :1871-1891).
    val sumpct = gsum.select(col("mukey"), col("musumcpct"), col("pctearthmc"))
    val rz = Valu.rzDepth(cached, restricted)
    val awsPct = Valu.contributingPct(cached,
      col("rating").isNotNull && col("hzdepb") > col("hzdept"), "musumcpcta")
    val socPct = Valu.contributingPct(
      cached.join(rz.select(col("cokey"), col("rzdepth")), Seq("cokey"), "left"),
      col("om").isNotNull && col("db3i").isNotNull &&
        least(col("hzdepb"), coalesce(col("rzdepth"), col("hzdepb"))) > col("hzdept"),
      "musumcpcts")
    val aws = Valu.calcAws(cached)
    // RZAWS runs over major-earthy components only (:1224-1227), with
    // GetSumPct's component-table pctearthmc as the mapunit divisor
    // (:1350/:1367) — drop the stage-local copy of the divisor column
    // to avoid a duplicate with the sumPct stage.
    val rzaws = Valu.rzAws(cached.filter(major && earthy), organic, rz,
        pct = gsum.select(col("mukey"), col("pctearthmc")))
      .drop("pctearthmc")
    // SOC stops at the root-zone restriction (:1765-1776)
    val soc = Valu.calcSoc(cached, socSlices, rz = Some(rz))
    // NCCPI divides by the ALL-MAJOR pct sum — dPct[mukey][2] per
    // GetSumPct's tuple order (gSSURGO_ValuTable.py:1956-1959, :2434;
    // the reference's inline "major-earthy" comment there is wrong)
    val nccpi = Valu.nccpi(interp, nccpiRules,
      denom = Some(gsum.select(col("mukey"), col("musumcpcta").as("sumpct"))))
    val pwsl = Valu.pwsl(comp, water, hydric)
    assemble(base, Seq(sumpct, awsPct, socPct, aws, rzaws, soc, nccpi, pwsl))
  }

  /** [[build]] refactored to the minimum shuffle count — bit-identical
    * output (ValuSpec pins equality with [[build]]; the v14/st04
    * oracles gate it end-to-end), radically cheaper plan. build()
    * aggregates the horizon table once per stage (9 aggregations, 8
    * mukey joins — ~28 sort-merge joins physical); at 100 TB each of
    * those re-shuffles the horizon fact table. Here the whole horizon
    * side runs in THREE keyed passes:
    *
    *   1. a cokey window computing the per-component depth scalars
    *      (rzdepth, first-mineral depth) every stage shares;
    *   2. ONE (mukey, cokey, comppct) aggregation producing every
    *      cokey-level quantity — the 2×11 AWS slice sums, the 2×11
    *      root-zone-capped SOC slice sums, the RZAWS thickness sums,
    *      and the AWS/SOC contributing flags — ~50 conditional
    *      aggregates in a single pass (the groupBy reuses the
    *      window's cokey partitioning: no extra exchange);
    *   3. ONE mukey aggregation rolling components up to mapunits.
    *
    * The component and interp inputs each aggregate once (sumPct+PWSL
    * fuse into one pass over comp), and the final assembly is three
    * broadcast-sized mukey joins instead of eight. Every output
    * expression is copied verbatim from the stage functions, so the
    * integral-double exactness contract (sums exact ⇒ regrouping
    * cokey-first is value-identical) carries over. */
  def buildFused(
      base: DataFrame,
      hz: DataFrame,
      comp: DataFrame,
      major: Column, earthy: Column, organic: Column,
      restricted: Column,
      water: Column, hydric: Column,
      interp: DataFrame, nccpiRules: Seq[(String, String)],
      socSlices: Seq[(Int, Int)] = Valu.valu1Slices): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val m = col("mukey")
    val me = major && earthy

    // pass 1 — per-component depth scalars as cokey window aggregates
    // (rzDepth and rzAws' first-mineral min, verbatim conditions)
    val w = Window.partitionBy(col("cokey"))
    val hzw = hz
      .withColumn("rzdepth", coalesce(
        min(when(restricted && col("hzdept") < 150, col("hzdept"))).over(w),
        lit(150.0)))
      .withColumn("fmdept", coalesce(
        min(when(me && !organic, col("hzdept"))).over(w), lit(999.0)))

    // pass 2 — every cokey-level aggregate in one hash aggregation
    val rated = col("rating").isNotNull
    val socGate = col("om").isNotNull && col("db3i").isNotNull
    val cappedB = least(col("hzdepb"), col("rzdepth"))
    val t = greatest(lit(0.0), cappedB - greatest(col("hzdept"), col("fmdept")))
    val awsAggs = Valu.valu1Slices.flatMap { case (a, b) =>
      val ov = Exprs.depthOverlap(col("hzdept"), col("hzdepb"), a, b)
      Seq(sum(when(rated, col("comppct") * ov * col("rating"))).as(s"awsn${a}_$b"),
        sum(when(rated, col("comppct") * ov)).as(s"awst${a}_$b"))
    }
    val socAggs = socSlices.flatMap { case (a, b) =>
      val ov = Exprs.depthOverlap(col("hzdept"), cappedB, a, b)
      val term = ov * col("om") * col("db3i") * (lit(100.0) - col("fragvol")) * col("comppct")
      Seq(sum(when(socGate, term)).as(s"socn${a}_$b"),
        sum(when(socGate, ov * col("comppct"))).as(s"soct${a}_$b"))
    }
    val coAggs = awsAggs ++ socAggs ++ Seq(
      max(when(rated && col("hzdepb") > col("hzdept"), 1).otherwise(0)).as("awsc"),
      max(when(socGate && cappedB > col("hzdept"), 1).otherwise(0)).as("socc"),
      sum(when(me && rated, t * col("rating"))).as("awsum"),
      sum(when(me, t)).as("hzt"))
    val perCo = hzw.groupBy(m, col("cokey"), col("comppct"))
      .agg(coAggs.head, coAggs.tail: _*)

    // pass 3 — mapunit rollup of every horizon-derived column
    val muAggs =
      Seq(sum(when(col("awsc") === 1, col("comppct"))).as("musumcpcta"),
        sum(when(col("socc") === 1, col("comppct"))).as("musumcpcts"),
        sum(col("comppct") * col("awsum")).as("wsum"),
        sum(col("comppct") * col("hzt")).as("hsum")) ++
      Valu.valu1Slices.flatMap { case (a, b) =>
        Seq(round(sum(col(s"awsn${a}_$b")) / 10.0, 4).as(s"aws${a}_$b"),
          round(sum(col(s"awst${a}_$b")) / 100.0, 4).as(s"tk${a}_${b}a"))
      } ++
      socSlices.flatMap { case (a, b) =>
        Seq(Exprs.roundHalfUp(sum(col(s"socn${a}_$b")) / 1724.0, 4).as(s"soc${a}_$b"),
          round(sum(col(s"soct${a}_$b")) / 100.0, 4).as(s"tk${a}_${b}s"))
      }
    val hzMu = perCo.groupBy(m).agg(muAggs.head, muAggs.tail: _*)

    // comp side — GetSumPct and PWSL fused into one aggregation
    val compAgg = comp.groupBy(m).agg(
      coalesce(sum(col("comppct")), lit(0.0)).as("musumcpct"),
      coalesce(sum(when(major, col("comppct"))), lit(0.0)).as("den_major"),
      coalesce(sum(when(me, col("comppct"))), lit(0.0)).as("pctearthmc"),
      max(when(water && col("comppct") >= 80, lit(1)).otherwise(lit(0))).as("iswater"),
      sum(when(water || hydric, col("comppct"))).as("critpct"))

    // interp side — the per-rule numerators (denominator = den_major,
    // build()'s musumcpcta override)
    val numAggs = nccpiRules.map { case (r, c) =>
      sum(when(col("rule") === r, col("fuzzy") * col("comppct"))).as(s"num_$c")
    }
    val num = interp.groupBy(m).agg(numAggs.head, numAggs.tail: _*)

    val pos = col("pctearthmc") > 0
    val rootznaws = when(pos,
      Exprs.roundHalfUp(col("wsum") / col("pctearthmc") / 10.0, 4))
    val outCols =
      Seq(m, col("musumcpct"), col("pctearthmc"), col("musumcpcta"), col("musumcpcts")) ++
      Valu.valu1Slices.flatMap { case (a, b) => Seq(col(s"aws${a}_$b"), col(s"tk${a}_${b}a")) } ++
      Seq(rootznaws.as("rootznaws"),
        when(pos, Exprs.roundHalfUp(
          least(col("hsum") / col("pctearthmc"), lit(150.0)), 0)).as("rootznemc"),
        (Exprs.roundHalfUp(rootznaws, 0) <= 152).as("droughty")) ++
      socSlices.flatMap { case (a, b) => Seq(col(s"soc${a}_$b"), col(s"tk${a}_${b}s")) } ++
      nccpiRules.map { case (_, c) =>
        (floor(when(col("den_major") > 0,
          col(s"num_$c") / col("den_major") / 10000.0) * 1e6 + 0.5) / 1e6).as(c)
      } ++
      Seq(when(col("iswater").isNull, lit(null).cast("double"))
        .otherwise(when(col("iswater") === 1, lit(999.0))
          .otherwise(coalesce(col("critpct"), lit(0.0)))).as("pwsl1pomu"))

    base.join(compAgg, Seq("mukey"), "left")
      .join(hzMu, Seq("mukey"), "left")
      .join(num, Seq("mukey"), "left")
      .select(outCols: _*)
  }
}
