package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.{SdvAttribute, SsurgoSchema}
import graft.sdv.SdvPlanner
import graft.sdv.SdvPlanner.SdvRequest

/** End-to-end planner tests over real-SSURGO-shaped micro tables:
  * catalog row in → rating table out, with the FK walk, filters,
  * domain ranking and dispatch all engaged. */
class SdvPlannerSpec extends AnyFunSuite {
  import TestSpark._

  private def mapunit = df(SsurgoSchema.mapunit, Seq(
    Row("100001", "AaB", "Alpha silt loam", "L1"),
    Row("100002", "WtA", "Water", "L1")))

  private def component = df(SsurgoSchema.component, Seq(
    //  cokey    mukey    pct  name     kind      maj  taxorder ...
    Row("c1", "100001", 60, "Alpha", "Series", "Yes", "Alfisols", "Typic", null, null, "No", "Well drained"),
    Row("c2", "100001", 40, "Beta", "Series", "No", "Alfisols", "Typic", null, null, "Yes", "Poorly drained"),
    Row("c3", "100002", 90, "Water", "Miscellaneous area", "Yes", null, null, null, null, null, null),
    Row("c4", "100002", 10, "NOTCOM", null, "No", null, null, null, null, null, null)))

  private def chorizon = df(SsurgoSchema.chorizon, Seq(
    // chkey cokey hzname master dept depb sand silt clay om db ec ph awc kffact
    Row("h1", "c1", "A", "A", 0, 25, 30.0, 40.0, 30.0, 3.0, 1.2, 0.5, 6.5, 0.10, ".24"),
    Row("h2", "c1", "Bt", "B", 25, 100, 25.0, 40.0, 35.0, 1.0, 1.4, 0.5, 6.0, 0.20, ".32"),
    Row("h3", "c2", "A", "A", 0, 50, 50.0, 30.0, 20.0, 2.0, 1.3, 0.5, 6.8, 0.15, ".17")))

  private def cointerp = df(SsurgoSchema.cointerp, Seq(
    Row("c1", "mr1", "ENG - Dwellings", "r1", "ENG - Dwellings", 0, 0.9, "Somewhat limited"),
    Row("c2", "mr1", "ENG - Dwellings", "r1", "ENG - Dwellings", 0, 0.2, "Very limited"),
    Row("c1", "mr2", "Other rule", "r2", "Other rule", 0, 0.5, "Not limited")))

  private def tables = Map(
    "mapunit" -> mapunit, "component" -> component,
    "chorizon" -> chorizon, "cointerp" -> cointerp)

  // NASIS order: most limiting first (lower choicesequence = worse)
  private val limitedDomain = Seq("Very limited", "Somewhat limited", "Not limited")

  private def planner = new SdvPlanner(tables,
    domains = Map("limits" -> limitedDomain))

  test("planner FK walk discovers chorizon→component→mapunit") {
    assert(planner.pathToMapunit("chorizon") ===
      List(("component", "mapunit", "mukey"), ("chorizon", "component", "cokey")))
    assert(planner.pathToMapunit("cosoilmoist").length === 3)
  }

  test("component-level DCP: NOTCOM excluded, strings keyed by domain") {
    val att = SdvAttribute("Dwellings", "cointerp", "interphrc", "rating",
      "Choice", "Dominant Component", ruledesign = Some(1),
      nasisrulename = Some("ENG - Dwellings"),
      complevelattribflag = 1, tiebreakdomainname = Some("limits"))
    val got = rowsOf(planner.plan(att))
    // c1 dominates mukey 100001 → Somewhat limited; c3 (Miscellaneous
    // water, no interp row) → null rating filtered; NOTCOM excluded.
    assert(got === Seq(Seq("100001", "Somewhat limited", 60.0)))
  }

  test("bFuzzy override swaps onto interphr but keeps the aggregation method (:3719-3740)") {
    val att = SdvAttribute("Dwellings", "cointerp", "interphrc", "rating",
      "Choice", "Dominant Component", ruledesign = Some(1),
      nasisrulename = Some("ENG - Dwellings"),
      complevelattribflag = 1, tiebreakdomainname = Some("limits"))
    // DCP runs over the fuzzy values: dominant c1 (60%) → 0.9
    assert(rowsOf(planner.plan(att, SdvRequest(bFuzzy = true)))
      === Seq(Seq("100001", 0.9, 60.0)))
    // an explicit WA request still averages: (60*0.9 + 40*0.2)/100
    assert(rowsOf(planner.plan(att,
      SdvRequest(bFuzzy = true, aggMethod = Some("Weighted Average"))))
      === Seq(Seq("100001", 0.62, 100.0)))
  }

  test("F6: distinterpmd rulekey semijoin replaces the rulename filter in the cointerp branch (:3821-3863)") {
    val dimS = StructType(Seq(
      StructField("rulekey", StringType), StructField("rulename", StringType)))
    val dim = df(dimS, Seq(Row("mr1", "ENG - Dwellings"), Row("mr2", "Other rule")))
    val p = new SdvPlanner(tables + ("distinterpmd" -> dim))
    val att = SdvAttribute("Dwellings", "cointerp", "interphr", "rating",
      "Float", "Weighted Average", nasisrulename = Some("ENG - Dwellings"),
      complevelattribflag = 1)
    val out = p.plan(att)
    // same rows as the rulename-equality path
    assert(rowsOf(out) === Seq(Seq("100001", 0.62, 100.0)))
    // and the physical plan carries the broadcast LeftSemi on mrulekey
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("LeftSemi"), phys.linesIterator.take(20).mkString("\n"))
    assert(phys.contains("Broadcast"))
  }

  test("interp rule filter keeps only the requested rule (F6)") {
    val att = SdvAttribute("Dwellings", "cointerp", "interphr", "rating",
      "Float", "Weighted Average", nasisrulename = Some("ENG - Dwellings"),
      complevelattribflag = 1)
    val got = rowsOf(planner.plan(att))
    // (60*0.9 + 40*0.2)/100 = 0.62 — the 0.5 row belongs to Other rule
    assert(got === Seq(Seq("100001", 0.62, 100.0)))
  }

  test("horizon-level WTA (Weighted Sum ≡ AWS shape) over slice [0,100)") {
    val att = SdvAttribute("AWS", "chorizon", "awc_r", "aws0100",
      "Float", "Weighted Average", horzlevelattribflag = 1,
      horzaggmeth = Some("Weighted Sum"))
    val got = rowsOf(planner.plan(att, SdvRequest(top = 0, bot = 100)))
    // c1: 25*.10+75*.20 = 17.5; c2: 50*.15 = 7.5
    // mukey: (60*17.5 + 40*7.5)/100 = 13.5, thickness (60*100+40*50)/100 = 80
    assert(got === Seq(Seq("100001", 13.5, 80.0)))
  }

  test("horizon-level Min/Max over a Choice attribute dispatches to Co_MaxMin (:10807-10810 minimax)") {
    val kDomain = Seq(".17", ".24", ".32") // erodibility ascending
    val p = new SdvPlanner(tables, domains = Map("kffact" -> kDomain))
    val att = SdvAttribute("Kf", "chorizon", "kffact", "kf",
      "Choice", "Minimum or Maximum", horzlevelattribflag = 1,
      tiebreakrule = 1, tiebreakdomainname = Some("kffact"))
    val got = rowsOf(p.plan(att, SdvRequest(top = 0, bot = 100)))
    // tieHigh: the Co_MaxMin cursor keeps each component's MIN rating
    // (ORDER BY rating DESC + last-wins dict), then the mapunit takes
    // the MAX across components: c1 → .24, c2 → .17 → .24
    assert(got === Seq(Seq("100001", ".24")))
  }

  test("K Factor DCP/DCD route to the Hz_MaxMin_* worst-horizon family (:10734-10741)") {
    val kDomain = Seq(".17", ".24", ".32")
    val p = new SdvPlanner(tables, domains = Map("kffact" -> kDomain))
    val att = SdvAttribute("K Factor, Whole Soil", "chorizon", "kffact", "kf",
      "Choice", "Dominant Component", horzlevelattribflag = 1,
      tiebreakrule = 1, tiebreakdomainname = Some("kffact"))
    // worst horizon per comp: c1 → .32, c2 → .17; DCP → c1 (60%) → .32
    assert(rowsOf(p.plan(att, SdvRequest(top = 0, bot = 100)))
      === Seq(Seq("100001", ".32", 60.0)))
    // A22 is the same dominant-component pick (raw pct, no trump)
    val dcd = att.copy(algorithmname = "Dominant Condition")
    assert(rowsOf(p.plan(dcd, SdvRequest(top = 0, bot = 100)))
      === Seq(Seq("100001", ".32", 60.0)))
  }

  test("mapunit-level 1:N satellite (mucropyld): whereclause slices the crop, missing mapunits null-pad (:4146-4194)") {
    val cropS = StructType(Seq(StructField("mukey", StringType),
      StructField("cropname", StringType), StructField("nonirryield_r", DoubleType)))
    val crop = df(cropS, Seq(
      Row("100001", "Corn", 120.0), Row("100001", "Corn", 110.0), // 1:N
      Row("100001", "Soybeans", 40.0)))                           // filtered out
    val p = new SdvPlanner(tables + ("mucropyld" -> crop))
    val att = SdvAttribute("Corn yield", "mucropyld", "nonirryield_r", "yield",
      "Float", "No Aggregation Necessary",
      sqlwhereclause = Some("cropname = 'Corn'"))
    val got = rowsOf(p.plan(att))
    // both Corn rows for 100001; 100002 has no crop rows → null-padded
    assert(got === Seq(Seq("100001", 110.0), Seq("100001", 120.0), Seq("100002", null)))
  }

  test("mapunit-level passthrough (muaggatt path, A1)") {
    val muagg = df(SsurgoSchema.muaggatt, Seq(Row("100001", 13.5, "Well drained", 150.0)))
    val p = new SdvPlanner(tables + ("muaggatt" -> muagg))
    val att = SdvAttribute("AWS 0-100", "muaggatt", "aws0100wta", "rating",
      "Float", "No Aggregation Necessary", mapunitlevelattribflag = 1)
    val got = rowsOf(p.plan(att))
    assert(got === Seq(Seq("100001", 13.5), Seq("100002", null)))
    // metadata-driven precision: attributeprecision overrides the
    // engine default (fldPrecision = max(0, ·), :4765)
    val precise = att.copy(attributeprecision = Some(0))
    assert(rowsOf(p.plan(precise)) === Seq(Seq("100001", 14.0), Seq("100002", null)))
  }

  test("Most Limiting takes the min domain index (NASIS order, :5166-5171)") {
    val att = SdvAttribute("Dwellings", "cointerp", "interphrc", "rating",
      "Choice", "Most Limiting", ruledesign = Some(1),
      nasisrulename = Some("ENG - Dwellings"),
      complevelattribflag = 1, tiebreakdomainname = Some("limits"))
    // Very limited(1) beats Somewhat limited(2): c2's rating wins
    assert(rowsOf(planner.plan(att)) === Seq(Seq("100001", "Very limited", 40.0)))
    val least = att.copy(algorithmname = "Least Limiting")
    assert(rowsOf(planner.plan(least)) === Seq(Seq("100001", "Somewhat limited", 60.0)))
  }

  test("suitability interp (ruledesign=2) reverses the domain (:9942-9944)") {
    val att = SdvAttribute("Dwellings", "cointerp", "interphrc", "rating",
      "Choice", "Most Limiting", ruledesign = Some(2),
      nasisrulename = Some("ENG - Dwellings"),
      complevelattribflag = 1, tiebreakdomainname = Some("limits"))
    val got = rowsOf(planner.plan(att))
    // reversed domain: Not limited(1) < Somewhat limited(2) < Very
    // limited(3); most limiting = MIN ord among rated → 'Somewhat
    // limited' (c1) [under design-1 it is 'Very limited']
    assert(got === Seq(Seq("100001", "Somewhat limited", 60.0)))
  }

  test("horizon-level Minimum or Maximum: per-component slice mean, max across (A21)") {
    val att = SdvAttribute("AWC max", "chorizon", "awc_r", "awcmax",
      "Float", "Minimum or Maximum", horzlevelattribflag = 1,
      tiebreakrule = 1) // high → max
    val got = rowsOf(planner.plan(att, SdvRequest(top = 0, bot = 100)))
    // c1 mean: (25*.10+75*.20)/100 = 0.175; c2 mean: (50*.15)/50 = 0.15
    assert(got === Seq(Seq("100001", 0.175)))
  }

  test("Percent Present: whereclause-matching pct, zeros for the rest (A9)") {
    val att = SdvAttribute("Hydric", "component", "comppct_r", "hydric_pct",
      "Integer", "Percent Present", complevelattribflag = 1,
      sqlwhereclause = Some("hydricrating = 'Yes'"))
    val got = rowsOf(planner.plan(att))
    // only c2 (40%) is hydric in mukey 100001; 100002 has none
    assert(got === Seq(Seq("100001", 40.0), Seq("100002", 0.0)))
  }

  test("F10: rv=low swaps the _r column for _l (:3776-3785)") {
    import org.apache.spark.sql.functions.{col, lit}
    val hzWithL = chorizon.withColumn("awc_l", col("awc_r") - lit(0.05))
    val p = new SdvPlanner(tables + ("chorizon" -> hzWithL))
    val att = SdvAttribute("AWS", "chorizon", "awc_r", "aws0100",
      "Float", "Weighted Average", horzlevelattribflag = 1,
      horzaggmeth = Some("Weighted Sum"))
    val got = rowsOf(p.plan(att, SdvRequest(top = 0, bot = 100, rv = Some("l"))))
    // c1: 25*.05+75*.15 = 12.5; c2: 50*.10 = 5
    // mukey: (60*12.5 + 40*5)/100 = 9.5
    assert(got.head.take(2) === Seq("100001", 9.5))
  }

  test("cutOff pushes the comppct filter (F2)") {
    val att = SdvAttribute("Dwellings", "cointerp", "interphr", "rating",
      "Float", "Weighted Average", nasisrulename = Some("ENG - Dwellings"),
      complevelattribflag = 1)
    val got = rowsOf(planner.plan(att, SdvRequest(cutOff = 50)))
    assert(got === Seq(Seq("100001", 0.9, 60.0))) // only c1 ≥ 50
  }

  test("shareBase memo is atomic: two threads planning one cutoff checkpoint it once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val att = SdvAttribute("Dwellings", "cointerp", "interphr", "rating",
      "Float", "Weighted Average", nasisrulename = Some("ENG - Dwellings"),
      complevelattribflag = 1)
    val shared = new SdvPlanner(tables,
      domains = Map("limits" -> limitedDomain), shareBase = true)
    val before = spark.sparkContext.getPersistentRDDs.keys.toSet
    val go = new java.util.concurrent.CountDownLatch(1)
    val plans = (1 to 2).map(_ => Future {
      go.await()
      shared.plan(att, SdvRequest(cutOff = 50))
    })
    go.countDown()
    val outs = plans.map(Await.result(_, 2.minutes))
    // ids, not a count: the ContextCleaner may drop older RDDs meanwhile
    val added = spark.sparkContext.getPersistentRDDs.keys.toSet -- before
    assert(added.size === 1, s"persisted RDDs added: $added")
    outs.foreach(o => assert(rowsOf(o) === Seq(Seq("100001", 0.9, 60.0))))
  }

  test("p10 fuzz sweep: 104 flag combinations, every leg non-vacuous") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    assert(queries.SweepQueries.legCount === 104)
    val out = SparkEntry.queries("p10_planner_fuzz_sweep")(
      spark, "/root/testdata/sf0.001")
    val perCombo = out.groupBy(col("combo")).count().collect()
    assert(perCombo.length === 104, "every grid combo must emit rows")
    assert(perCombo.forall(_.getLong(1) > 0))
    // flag dimensions must actually change results: the tie-direction
    // twins of the numeric DCP family disagree somewhere, as do the
    // bZero twins and the rv twins
    def ratings(tag: String) =
      out.filter(col("combo") === tag)
        .select(col("mukey"), col("rating_num")).collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(ratings("n_dcp_r_tl_z0_c0") !== ratings("n_dcp_r_th_z0_c0"))
    assert(ratings("n_dcp_r_tl_z0_c0") !== ratings("n_dcp_r_tl_z1_c0"))
    assert(ratings("n_dcp_r_tl_z0_c0") !== ratings("n_dcp_l_tl_z0_c0"))
    assert(ratings("hz_wta_r_tl_0_30") !== ratings("hz_wta_r_tl_0_100"))
  }
}
