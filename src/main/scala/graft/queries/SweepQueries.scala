package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.analog.OracleSql
import graft.core.Exprs
import graft.schema.SdvAttribute
import graft.sdv.SdvPlanner.SdvRequest

/** p10 — the sdvattribute-catalog FUZZ SWEEP: a 104-combination grid of
  * (algorithm × RV low/high swap × tiebreak × bZero × comppct cutoff ×
  * depth slice) driven end-to-end through `Graft.soilMap` — the closest
  * local approximation of the reference's full WSS query surface, where
  * every CreateSoilMap request is an arbitrary catalog row + dialog-flag
  * combination (gSSURGO_CreateSoilMap.py:9578-11368 dispatch ×
  * :3776-3785 RV swap × :7375-7383 bZero × :10243 cutoff ×
  * aggregation-specific depth handling). p09 pins the wide-merge
  * dispatch once; p10 pins the FLAG INTERACTIONS, each combination
  * replayed independently in DuckDB.
  *
  * The grid is a deterministic object-level value consumed by BOTH the
  * Spark builder and the oracle generator, so the two sides can never
  * drift. Output shape: one row per (combo, mukey) with the rating in
  * `rating_num` (Float attributes) or `rating_txt` (Choice attributes).
  *
  * Scale note: the component-level fixture samples the analog lake on
  * `l_orderkey % 11 = 0` (both sides) — the sweep's job is dispatch
  * coverage, not volume; each leg stays a small broadcast-friendly agg
  * and the 104-leg union is bounded at any SF.
  */
object SweepQueries extends QuerySet {

  // ---- the grid (shared by the Spark legs and the oracle legs) -------
  private val rvs = Seq("r", "l", "h")
  private val ties = Seq(true, false) // tieLow
  private val zeros = Seq(false, true) // bZero
  private val cuts = Seq(0, 5)
  private val slices = Seq((0, 30), (0, 100), (25, 75))
  private val hzRvs = Seq("r", "l")

  private def tTag(t: Boolean) = if (t) "tl" else "th"
  private def zTag(z: Boolean) = if (z) "z1" else "z0"
  private def algTag(a: String): String = a match {
    case "Dominant Component" => "dcp"
    case "Dominant Condition" => "dcd"
    case "Weighted Average"   => "wta"
    case "Minimum or Maximum" => "mm"
    case "Percent Present"    => "pp"
  }

  private case class NumLeg(alg: String, rv: String, tieLow: Boolean, bZero: Boolean, cut: Int) {
    def tag = s"n_${algTag(alg)}_${rv}_${tTag(tieLow)}_${zTag(bZero)}_c$cut"
  }
  private case class ChoiceLeg(alg: String, tieLow: Boolean, bZero: Boolean, cut: Int) {
    def tag = s"ch_${algTag(alg)}_${tTag(tieLow)}_${zTag(bZero)}_c$cut"
  }
  private case class HzLeg(alg: String, rv: String, tieLow: Boolean, top: Int, bot: Int) {
    def tag = s"hz_${algTag(alg)}_${rv}_${tTag(tieLow)}_${top}_$bot"
  }

  // 24 DCP + 24 MinMax + 12 WTA (tie-invariant) + 4 PP (rv/tie-invariant)
  private val numLegs: Seq[NumLeg] =
    (for { rv <- rvs; t <- ties; z <- zeros; c <- cuts }
      yield NumLeg("Dominant Component", rv, t, z, c)) ++
    (for { rv <- rvs; t <- ties; z <- zeros; c <- cuts }
      yield NumLeg("Minimum or Maximum", rv, t, z, c)) ++
    (for { rv <- rvs; z <- zeros; c <- cuts }
      yield NumLeg("Weighted Average", rv, tieLow = true, z, c)) ++
    (for { z <- zeros; c <- cuts }
      yield NumLeg("Percent Present", "r", tieLow = true, z, c))

  // 8 DCD (incl. the bZero null-as-class branch both tie directions)
  // + 4 DCP + 4 MinMax over the non-alphabetical drainage domain
  private val choiceLegs: Seq[ChoiceLeg] =
    (for { t <- ties; z <- zeros; c <- cuts }
      yield ChoiceLeg("Dominant Condition", t, z, c)) ++
    (for { t <- ties; c <- cuts }
      yield ChoiceLeg("Dominant Component", t, bZero = false, c)) ++
    (for { t <- ties; c <- cuts }
      yield ChoiceLeg("Minimum or Maximum", t, bZero = false, c))

  // 6 hz-WTA + 6 hz-DCP (tie-ignoring) + 12 hz-MinMax across 3 slices
  private val hzLegs: Seq[HzLeg] =
    (for { (a, b) <- slices; rv <- hzRvs }
      yield HzLeg("Weighted Average", rv, tieLow = true, a, b)) ++
    (for { (a, b) <- slices; rv <- hzRvs }
      yield HzLeg("Dominant Component", rv, tieLow = true, a, b)) ++
    (for { (a, b) <- slices; rv <- hzRvs; t <- ties }
      yield HzLeg("Minimum or Maximum", rv, t, a, b))

  /** 104 total — exposed for the spec. */
  def legCount: Int = numLegs.size + choiceLegs.size + hzLegs.size

  // ---- Spark side ----------------------------------------------------

  /** The 104 leg plans are deterministic per (context, dir); memoize so
    * a multi-rep bench pays the per-leg physical planning once (the
    * leg RDDs are immutable and re-executable). */
  private def sweep(s: SparkSession, dir: String): DataFrame =
    GraftSession.memo(s, "sweep", dir)(buildSweep(s, dir))

  private def buildSweep(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem").filter(col("l_orderkey") % 11 === 0)
    val o = Tables.load(s, dir, "orders").filter(col("o_orderkey") % 11 === 0)
    // nullable rating family: NULL when returnflag = 'N' so bZero and
    // the F3 null filter both have real work on every leg
    val priceBase = when(col("l_returnflag") === "N", lit(null).cast("double"))
      .otherwise(Exprs.cents(col("l_extendedprice")))
    val component = l.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("string").as("cokey"),
      col("l_orderkey").cast("string").as("mukey"),
      col("l_quantity").cast("int").as("comppct_r"),
      lit("Alpha").as("compname"),
      priceBase.as("price_r"),
      (priceBase - col("l_linenumber") * 100).as("price_l"),
      (priceBase + col("l_linenumber") * 100).as("price_h"),
      when(col("l_returnflag") === "R", "Rare")
        .when(col("l_returnflag") === "A", "Occasional").as("draincl"))
    val compT = Map(
      "mapunit" -> o.select(col("o_orderkey").cast("string").as("mukey")),
      "component" -> component)
    val dom = Map("drainage" -> Seq("Rare", "Occasional", "Frequent"))

    // horizon fixture (Analog.hz shape, planner-joined via the FK walk)
    // — sampled on the same order-key predicate as the component fixture
    // (the key is shared, so one oracle-side filter mirrors both sides)
    val lf = l
    val of = o
    val awcBase = when(col("l_returnflag") === "N", lit(null).cast("double"))
      .otherwise(Exprs.cents(col("l_discount")))
    val hzT = Map(
      "mapunit" -> Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("mukey")),
      "component" -> of.select(
        col("o_orderkey").cast("string").as("cokey"),
        col("o_custkey").cast("string").as("mukey"),
        (col("o_orderkey") % 97 + 1).cast("int").as("comppct_r"),
        lit("Alpha").as("compname")),
      "chorizon" -> lf.select(
        col("l_orderkey").cast("string").as("cokey"),
        ((col("l_linenumber") - 1) * 30).cast("double").as("hzdept_r"),
        (col("l_linenumber") * 30).cast("double").as("hzdepb_r"),
        awcBase.as("awc_r"),
        (awcBase - col("l_linenumber")).as("awc_l")))

    def shape(tag: String, df: DataFrame, choice: Boolean): DataFrame =
      if (choice) df.select(lit(tag).as("combo"), col("mukey"),
        lit(null).cast("double").as("rating_num"),
        col("rating").cast("string").as("rating_txt"))
      else df.select(lit(tag).as("combo"), col("mukey"),
        col("rating").cast("double").as("rating_num"),
        lit(null).cast("string").as("rating_txt"))

    // one shareBase planner per fixture-table map: the 104 legs re-used
    // the same mapunit⟕component join (per comppct cutoff) — with a
    // fresh planner per leg that join re-ran inside every leg's plan;
    // shared, it materializes once per (tables, cutOff) (output
    // identical — the soilMaps batch-loop shape)
    val compPlanner = new graft.sdv.SdvPlanner(compT, dom, shareBase = true)
    val hzPlanner = new graft.sdv.SdvPlanner(hzT, dom, shareBase = true)
    def planLeg(p: graft.sdv.SdvPlanner, att: SdvAttribute, req: SdvRequest) =
      p.plan(graft.schema.SdvCatalog.normalize(att), req)
    val legs: Seq[DataFrame] =
      numLegs.map { lg =>
        val att = SdvAttribute("Price", "component", "price_r", "rating",
          "Float", lg.alg, complevelattribflag = 1)
        val req = SdvRequest(cutOff = lg.cut, tieLow = Some(lg.tieLow),
          bZero = lg.bZero, rv = if (lg.rv == "r") None else Some(lg.rv))
        shape(lg.tag, planLeg(compPlanner, att, req), choice = false)
      } ++
      choiceLegs.map { lg =>
        val att = SdvAttribute("Drainage", "component", "draincl", "rating",
          "Choice", lg.alg, complevelattribflag = 1,
          tiebreakdomainname = Some("drainage"))
        val req = SdvRequest(cutOff = lg.cut, tieLow = Some(lg.tieLow),
          bZero = lg.bZero)
        shape(lg.tag, planLeg(compPlanner, att, req), choice = true)
      } ++
      hzLegs.map { lg =>
        val att = SdvAttribute("AWC", "chorizon", "awc_r", "rating",
          "Float", lg.alg, horzlevelattribflag = 1)
        val req = SdvRequest(top = lg.top, bot = lg.bot,
          tieLow = Some(lg.tieLow), rv = if (lg.rv == "r") None else Some(lg.rv))
        shape(lg.tag, planLeg(hzPlanner, att, req), choice = false)
      }
    // Stitch the legs at the RDD level rather than one 104-branch
    // union plan: a single unioned logical plan makes AQE re-optimize
    // the WHOLE tree at every one of its ~250 stage boundaries
    // (measured: 90+ s at sf0.1, data-independent). As independent
    // per-leg query executions under one UnionRDD, each leg plans and
    // adapts in isolation and the top plan is a flat scan — the same
    // shape the reference's CreateSoilMaps batch loop has, one
    // independent query per catalog row. Still lazy at execution; the
    // per-leg physical planning (~0.6 s each, fixed QueryExecution
    // overhead) runs across driver threads.
    import scala.collection.parallel.CollectionConverters._
    val rdd = legs.par.map(_.rdd).seq.reduce(_ union _)
    s.createDataFrame(rdd, legs.head.schema)
  }

  // ---- oracle side ---------------------------------------------------

  private def numSrcName(rv: String, z: Boolean, c: Int) = s"cn_${rv}_${zTag(z)}_c$c"

  private def numSrcCte(rv: String, z: Boolean, c: Int): String = {
    val base = "CASE WHEN l_returnflag = 'N' THEN NULL ELSE floor(l_extendedprice*100 + 0.5) END"
    val swapped = rv match {
      case "r" => base
      case "l" => s"(($base) - l_linenumber*100)"
      case "h" => s"(($base) + l_linenumber*100)"
    }
    val rating = if (z) s"coalesce($swapped, 0.0)" else swapped
    val nullFilter = if (z) "" else " AND l_returnflag <> 'N'"
    s"""${numSrcName(rv, z, c)} AS (
       |  SELECT CAST(l_orderkey*10 + l_linenumber AS VARCHAR) AS cokey,
       |         CAST(l_orderkey AS VARCHAR) AS mukey,
       |         CAST(l_quantity AS DOUBLE) AS comppct,
       |         $rating AS rating, $rating AS ord
       |  FROM lineitem
       |  WHERE l_orderkey % 11 = 0 AND l_quantity >= $c$nullFilter)""".stripMargin
  }

  private def chSrcName(z: Boolean, high: Boolean, c: Int): String =
    if (!z) s"cc_c$c" else if (high) s"cczh_c$c" else s"ccz_c$c"

  private def chSrcCte(c: Int): String = // bZero off: nulls excluded (F3)
    s"""cc_c$c AS (
       |  SELECT CAST(l_orderkey*10 + l_linenumber AS VARCHAR) AS cokey,
       |         CAST(l_orderkey AS VARCHAR) AS mukey,
       |         CAST(l_quantity AS DOUBLE) AS comppct,
       |         CASE l_returnflag WHEN 'R' THEN 'Rare' WHEN 'A' THEN 'Occasional' END AS rating,
       |         CASE l_returnflag WHEN 'R' THEN 1.0 WHEN 'A' THEN 2.0 END AS ord
       |  FROM lineitem
       |  WHERE l_orderkey % 11 = 0 AND l_quantity >= $c AND l_returnflag IN ('R', 'A'))""".stripMargin

  private def chZSrcCte(c: Int): String = // bZero on: null class, Low placement
    s"""ccz_c$c AS (
       |  SELECT CAST(l_orderkey*10 + l_linenumber AS VARCHAR) AS cokey,
       |         CAST(l_orderkey AS VARCHAR) AS mukey,
       |         CAST(l_quantity AS DOUBLE) AS comppct,
       |         CASE l_returnflag WHEN 'R' THEN 'Rare' WHEN 'A' THEN 'Occasional' END AS rating,
       |         CASE l_returnflag WHEN 'R' THEN 1.0 WHEN 'A' THEN 2.0 ELSE 4.0 END AS ord
       |  FROM lineitem WHERE l_orderkey % 11 = 0 AND l_quantity >= $c)""".stripMargin

  private def chZHighCte(c: Int): String = // High: null class ranks FIRST
    s"""cczh_c$c AS (SELECT cokey, mukey, comppct, rating,
       |  CASE WHEN rating IS NULL THEN 0.0 ELSE ord END AS ord FROM ccz_c$c)""".stripMargin

  private def hzSrcCte(rv: String): String = {
    val base = "CASE WHEN l_returnflag = 'N' THEN NULL ELSE floor(l_discount*100 + 0.5) END"
    val swapped = if (rv == "l") s"(($base) - l_linenumber)" else base
    // the rt-stage null filter (bZero off drops null-rated horizon rows)
    s"""hs_$rv AS (
       |  SELECT CAST(o_custkey AS VARCHAR) AS mukey,
       |         CAST(o_orderkey AS VARCHAR) AS cokey,
       |         CAST(o_orderkey % 97 + 1 AS DOUBLE) AS comppct,
       |         CAST((l_linenumber-1)*30 AS DOUBLE) AS hzdept,
       |         CAST(l_linenumber*30 AS DOUBLE) AS hzdepb,
       |         $swapped AS rating
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |  WHERE l_orderkey % 11 = 0 AND $swapped IS NOT NULL)""".stripMargin
  }

  private def pcName(rv: String, a: Int, b: Int) = s"pc_${rv}_${a}_$b"

  private def pcCte(rv: String, a: Int, b: Int): String = {
    val ov = OracleSql.ovExpr(a, b)
    s"""${pcName(rv, a, b)} AS (SELECT mukey, cokey, comppct,
       |  sum(CASE WHEN $ov > 0 THEN $ov*rating END) AS compval,
       |  sum(CASE WHEN $ov > 0 THEN $ov END) AS thick
       |  FROM hs_$rv GROUP BY mukey, cokey, comppct)""".stripMargin
  }

  private def domCtes(rv: String): Seq[String] = Seq(
    s"mx_$rv AS (SELECT mukey, max(comppct) AS mxpct FROM hs_$rv GROUP BY mukey)",
    s"dom_$rv AS (SELECT h.* FROM hs_$rv h JOIN mx_$rv x ON h.mukey = x.mukey AND h.comppct = x.mxpct)")

  private def wrapNum(tag: String, body: String): String =
    s"""SELECT '$tag' AS combo, mukey, CAST(rating AS DOUBLE) AS rating_num,
       |       CAST(NULL AS VARCHAR) AS rating_txt FROM ($body)""".stripMargin

  private def wrapTxt(tag: String, body: String): String =
    s"""SELECT '$tag' AS combo, mukey, CAST(NULL AS DOUBLE) AS rating_num,
       |       CAST(rating AS VARCHAR) AS rating_txt FROM ($body)""".stripMargin

  private def numLegSql(lg: NumLeg): String = {
    val src = numSrcName(lg.rv, lg.bZero, lg.cut)
    val body = lg.alg match {
      case "Dominant Component" => OracleSql.dcp(src, lg.tieLow)
      case "Weighted Average"   => OracleSql.wta(src)
      case "Minimum or Maximum" =>
        val f = if (lg.tieLow) "min" else "max" // most = !tieLow
        s"SELECT mukey, $f(rating) AS rating FROM $src GROUP BY mukey"
      case "Percent Present" =>
        s"""SELECT m.mukey, coalesce(s.mp, 0.0) AS rating
           |FROM bm m LEFT JOIN (SELECT mukey, sum(comppct) AS mp FROM $src GROUP BY mukey) s
           |  ON m.mukey = s.mukey""".stripMargin
    }
    wrapNum(lg.tag, body)
  }

  private def chLegSql(lg: ChoiceLeg): String = {
    val src = chSrcName(lg.bZero, high = !lg.tieLow, lg.cut)
    val body = lg.alg match {
      case "Dominant Condition" => OracleSql.dcd(src, lg.tieLow, br = s"br_$src")
      case "Dominant Component" => OracleSql.dcp(src, lg.tieLow)
      case "Minimum or Maximum" =>
        val dd = if (lg.tieLow) "ASC" else "DESC" // most = !tieLow
        s"""SELECT mukey, rating FROM (
           |  SELECT mukey, rating, row_number() OVER (PARTITION BY mukey
           |    ORDER BY ord $dd, rating $dd) AS rn FROM $src) t WHERE rn = 1""".stripMargin
    }
    wrapTxt(lg.tag, body)
  }

  private def hzLegSql(lg: HzLeg): String = {
    val pc = pcName(lg.rv, lg.top, lg.bot)
    val ov = OracleSql.ovExpr(lg.top, lg.bot)
    val body = lg.alg match {
      case "Weighted Average" => // hzWtaWta mirror (a19 shape)
        s"""SELECT mukey,
           |  floor(sum(CASE WHEN rE8 IS NOT NULL THEN comppct*rE8 END)
           |    / sum(CASE WHEN rE8 IS NOT NULL THEN comppct END) / 1e8 * 1e4 + 0.5)/1e4 AS rating
           |FROM (SELECT mukey, comppct, floor(compval/thick * 1e8 + 0.5) AS rE8 FROM $pc) w
           |GROUP BY mukey""".stripMargin
      case "Dominant Component" => // hzDcpWta mirror (a20 shape, ties kept)
        s"""SELECT mukey,
           |  floor((sum(CASE WHEN $ov > 0 THEN $ov*rating END)
           |    / sum(CASE WHEN $ov > 0 THEN $ov END))*1e4 + 0.5)/1e4 AS rating
           |FROM dom_${lg.rv} GROUP BY mukey""".stripMargin
      case "Minimum or Maximum" => // hzMaxMinWta mirror (a21 shape)
        val f = if (lg.tieLow) "min" else "max" // most = !tieLow
        s"SELECT mukey, $f(floor((compval/thick)*1e4 + 0.5)/1e4) AS rating FROM $pc GROUP BY mukey"
    }
    wrapNum(lg.tag, body)
  }

  private def sweepOracle: String = {
    val ctes =
      (for { rv <- rvs; z <- zeros; c <- cuts } yield numSrcCte(rv, z, c)) ++
      Seq("bm AS (SELECT CAST(o_orderkey AS VARCHAR) AS mukey FROM orders WHERE o_orderkey % 11 = 0)") ++
      cuts.map(chSrcCte) ++ cuts.map(chZSrcCte) ++ cuts.map(chZHighCte) ++
      cuts.flatMap(c => Seq(s"cc_c$c", s"ccz_c$c", s"cczh_c$c"))
        .map(src => OracleSql.dcdBr(src, s"br_$src")) ++
      hzRvs.map(hzSrcCte) ++
      (for { rv <- hzRvs; (a, b) <- slices } yield pcCte(rv, a, b)) ++
      hzRvs.flatMap(domCtes)
    val legs = numLegs.map(numLegSql) ++ choiceLegs.map(chLegSql) ++
      hzLegs.map(hzLegSql)
    "WITH " + ctes.mkString(",\n") + "\n" + legs.mkString("\nUNION ALL\n")
  }

  val all: Seq[Q] = Seq(
    Q("p10_planner_fuzz_sweep", sweep, Some(sweepOracle)))
}
