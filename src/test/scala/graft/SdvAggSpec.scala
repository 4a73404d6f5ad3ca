package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sdv.SdvAgg

/** Micro-fixtures pinning the exact reference aggregation semantics
  * (FIXTURES.md scenario table; citations in each test). The rating
  * table uses the standardized combinator shape. */
class SdvAggSpec extends AnyFunSuite {
  import TestSpark._

  private val rtSchema = StructType(Seq(
    StructField("mukey", StringType),
    StructField("cokey", LongType),
    StructField("comppct", DoubleType),
    StructField("rating", StringType),
    StructField("ratingOrd", DoubleType)))

  private val numSchema = StructType(Seq(
    StructField("mukey", StringType),
    StructField("cokey", LongType),
    StructField("comppct", DoubleType),
    StructField("rating", DoubleType),
    StructField("ratingOrd", DoubleType)))

  // Non-alphabetical domain: ordinal ordering must NOT equal string
  // ordering (mdstatdomdet.choicesequence is authoritative).
  // domain: Slight(1) < Moderate(2) < Severe(3)
  private def ord(r: String): Double = r match {
    case "Slight" => 1.0; case "Moderate" => 2.0; case "Severe" => 3.0
    case "Not rated" => 4.0
  }
  private def row(mu: String, co: Long, pct: Double, r: String) =
    Row(mu, co, pct, r, ord(r))

  test("A2 DCP: 60/40 split, dominant wins (gSSURGO_CreateSoilMap.py:4833-4868)") {
    val d = df(rtSchema, Seq(row("m1", 1, 60, "Severe"), row("m1", 2, 40, "Slight")))
    assert(rowsOf(SdvAgg.dominantComponent(d)) === Seq(Seq("m1", "Severe", 60.0)))
  }

  test("A2 DCP: comppct tie broken by rating order, low then high") {
    val d = df(rtSchema, Seq(row("m1", 1, 50, "Severe"), row("m1", 2, 50, "Slight")))
    // tieLow: lower domain ordinal (Slight) wins
    assert(rowsOf(SdvAgg.dominantComponent(d, tieLow = true)) === Seq(Seq("m1", "Slight", 50.0)))
    assert(rowsOf(SdvAgg.dominantComponent(d, tieLow = false)) === Seq(Seq("m1", "Severe", 50.0)))
  }

  test("A3 DCD: dominant component >= 50% trumps the modal class (:5768-5787)") {
    // dominant comp 50% Severe; two 25% comps share Slight (sum 50).
    // Modal tie (50 vs 50) — but DCP trump fires first: Severe wins.
    val d = df(rtSchema, Seq(row("m1", 1, 50, "Severe"),
      row("m1", 2, 25, "Slight"), row("m1", 3, 25, "Slight")))
    val got = rowsOf(SdvAgg.dominantCondition(d))
    assert(got === Seq(Seq("m1", "Severe", 50.0)))
  }

  test("A3 DCD: trump reports the dominant COMPONENT's pct, not the class sum (:5778-5780)") {
    // dominant comp 50% Severe trumps; another 30% comp is ALSO Severe
    // (class sum 80) — the reference reports 100·dcpPct/totalPct = 50,
    // not 80.
    val d = df(rtSchema, Seq(row("m1", 1, 50, "Severe"),
      row("m1", 2, 30, "Severe"), row("m1", 3, 20, "Slight")))
    assert(rowsOf(SdvAgg.dominantCondition(d)) === Seq(Seq("m1", "Severe", 50.0)))
  }

  test("A3 DCD: without trump the modal class wins, pct normalized") {
    // dominant comp 40% < 50; Slight sums to 60 → wins with 60%.
    val d = df(rtSchema, Seq(row("m1", 1, 40, "Severe"),
      row("m1", 2, 30, "Slight"), row("m1", 3, 30, "Slight")))
    assert(rowsOf(SdvAgg.dominantCondition(d)) === Seq(Seq("m1", "Slight", 60.0)))
  }

  test("numeric top-1 picks plan hash aggregates, no SortAggregate") {
    val d = df(numSchema, Seq(Row("m1", 1L, 60.0, 3.0, 3.0), Row("m1", 2L, 40.0, 4.0, 4.0),
      Row("m2", 3L, 100.0, 4.0, 4.0)))
    val picks = Seq(
      "dominantCondition" -> SdvAgg.dominantCondition(d),
      "dominantComponent" -> SdvAgg.dominantComponent(d),
      "maxMin" -> SdvAgg.maxMin(d, most = true, notRatedOrd = Some(4.0)),
      "limiting" -> SdvAgg.limiting(d, most = false, notRatedOrd = Some(4.0)))
    picks.foreach { case (name, q) =>
      val plan = q.queryExecution.sparkPlan.treeString
      assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
        s"$name:\n$plan")
    }
    assert(rowsOf(picks.head._2) === Seq(Seq("m1", 3.0, 60.0), Seq("m2", 4.0, 100.0)))
    assert(rowsOf(picks(2)._2) === Seq(Seq("m1", 3.0), Seq("m2", 4.0)))
  }

  test("A6 WTA: null ratings excluded from weights; bZero includes them (:5588-5593, 8035-8041)") {
    val d = df(numSchema, Seq(
      Row("m1", 1L, 50.0, 10.0, 10.0),
      Row("m1", 2L, 25.0, 20.0, 20.0),
      Row("m1", 3L, 25.0, null, null)))
    // rated only: (50*10+25*20)/75 = 13.3333
    val got = SdvAgg.weightedAverage(d).collect()(0)
    assert(got.getDouble(1) === 13.3333)
    assert(got.getDouble(2) === 75.0)
    // bZero: caller fills nulls → (50*10+25*20+25*0)/100 = 10
    val z = d.withColumn("rating", coalesce(col("rating"), lit(0.0)))
    assert(SdvAgg.weightedAverage(z).collect()(0).getDouble(1) === 10.0)
  }

  test("A7 MaxMin: 'Not rated' skipped unless alone (:5415-5422)") {
    val d = df(rtSchema, Seq(row("m1", 1, 60, "Not rated"), row("m1", 2, 40, "Moderate"),
      row("m2", 3, 100, "Not rated")))
    val got = rowsOf(SdvAgg.maxMin(d, most = true, notRatedOrd = Some(4.0)))
    assert(got === Seq(Seq("m1", "Moderate"), Seq("m2", "Not rated")))
  }

  test("A7 MaxMin: domain ordinal beats string order (Severe > Moderate despite alphabet)") {
    val d = df(rtSchema, Seq(row("m1", 1, 50, "Severe"), row("m1", 2, 50, "Moderate")))
    assert(rowsOf(SdvAgg.maxMin(d, most = true)) === Seq(Seq("m1", "Severe")))
    assert(rowsOf(SdvAgg.maxMin(d, most = false)) === Seq(Seq("m1", "Moderate")))
  }

  test("A8 Most Limiting: winning class reports summed comppct (:5140-5180)") {
    val d = df(rtSchema, Seq(row("m1", 1, 30, "Severe"), row("m1", 2, 20, "Severe"),
      row("m1", 3, 50, "Slight")))
    assert(rowsOf(SdvAgg.limiting(d, most = true)) === Seq(Seq("m1", "Severe", 50.0)))
    assert(rowsOf(SdvAgg.limiting(d, most = false)) === Seq(Seq("m1", "Slight", 50.0)))
  }

  test("A8 Limiting: 'Not rated' loses to any rated class but wins alone") {
    val d = df(rtSchema, Seq(row("m1", 1, 90, "Not rated"), row("m1", 2, 10, "Slight"),
      row("m2", 3, 100, "Not rated")))
    val got = rowsOf(SdvAgg.limiting(d, most = true, notRatedOrd = Some(4.0)))
    assert(got === Seq(Seq("m1", "Slight", 10.0), Seq("m2", "Not rated", 100.0)))
  }

  test("A9 Percent Present: unmatched mapunits report 0 (:8290-8294)") {
    val d = df(rtSchema, Seq(row("m1", 1, 35, "Severe"), row("m1", 2, 15, "Slight")))
    val base = df(StructType(Seq(StructField("mukey", StringType))),
      Seq(Row("m1"), Row("m2")))
    val got = rowsOf(SdvAgg.percentPresent(d, base, col("rating") === "Severe"))
    assert(got === Seq(Seq("m1", 35.0), Seq("m2", 0.0)))
  }

  test("A10/A12 DTWT: null monthly value takes the 201 sentinel (:9725-9745)") {
    val moSchema = StructType(numSchema.fields :+ StructField("month", IntegerType))
    val d = df(moSchema, Seq(
      Row("m1", 1L, 100.0, 50.0, 50.0, 1),
      Row("m1", 1L, 100.0, null, null, 2))) // null month → 201
    // min over months with sentinel: min(50, 201) = 50; max = 201
    val mn = SdvAgg.perComponentMonthlyExtreme(d, most = false, sentinel = Some(201.0))
    assert(mn.collect()(0).getDouble(3) === 50.0)
    val mx = SdvAgg.perComponentMonthlyExtreme(d, most = true, sentinel = Some(201.0))
    assert(mx.collect()(0).getDouble(3) === 201.0)
  }

  test("A11 raw DCD: max-sum class wins with RAW pct — no trump, no normalization (:6061-6082)") {
    // dominant comp 50 'Severe-valued' (would trump in component DCD);
    // the 60-sum class must win and report 60, not 100*60/110.
    val d = df(numSchema, Seq(
      Row("m1", 1L, 50.0, 90.0, 90.0),
      Row("m1", 2L, 30.0, 10.0, 10.0), Row("m1", 3L, 30.0, 10.0, 10.0)))
    assert(rowsOf(SdvAgg.moDominantCondition(d, most = true))
      === Seq(Seq("m1", 10.0, 60.0)))
  }

  test("A16 raw domain DCD: class sum raw, domain ordinal breaks sum ties (:6977-6990)") {
    val d = df(rtSchema, Seq(
      row("m1", 1, 50, "Severe"), row("m1", 2, 50, "Slight"))) // sum tie 50-50
    // tieLow=false → higher domain ordinal wins the tie → Severe, raw 50
    assert(rowsOf(SdvAgg.moDomainDominantCondition(d, tieLow = false))
      === Seq(Seq("m1", "Severe", 50.0)))
  }

  test("A14 Mo-DCD: 12 month rows collapse to one extreme per component (the 12X fix, :6297, :6353-6386)") {
    // one component rated Severe in 12 months: the per-component
    // extreme collapses them (comppct counted once, not 12X), then the
    // dominant component's raw pct/rating is reported.
    val rows12 = (1 to 12).map(_ => row("m1", 1, 60, "Severe")) :+ row("m1", 2, 40, "Slight")
    val d = df(rtSchema, rows12)
    assert(rowsOf(SdvAgg.moDominantConditionDedup(d, tieLow = false))
      === Seq(Seq("m1", "Severe", 60.0)))
    // mixed months: tiebreak high takes the worst month per component
    val mixed = Seq(row("m2", 3, 70, "Slight"), row("m2", 3, 70, "Severe"),
      row("m2", 4, 30, "Moderate"))
    assert(rowsOf(SdvAgg.moDominantConditionDedup(df(rtSchema, mixed), tieLow = false))
      === Seq(Seq("m2", "Severe", 70.0)))
  }

  private val hzSchema = StructType(Seq(
    StructField("mukey", StringType),
    StructField("cokey", LongType),
    StructField("comppct", DoubleType),
    StructField("hzdept", DoubleType),
    StructField("hzdepb", DoubleType),
    StructField("rating", DoubleType)))

  test("A18 Hz WTA-SUM: slice overlap arithmetic (:8398, FIXTURES horizons 0-25/25-75/75-150 vs [0,100))") {
    // one component, awc .10/.20/.05 → aws-like value over [0,100):
    // 25*.10 + 50*.20 + 25*.05 = 13.75; thickness 100
    val d = df(hzSchema, Seq(
      Row("m1", 1L, 100.0, 0.0, 25.0, 0.10),
      Row("m1", 1L, 100.0, 25.0, 75.0, 0.20),
      Row("m1", 1L, 100.0, 75.0, 150.0, 0.05)))
    val got = SdvAgg.hzWtaSum(d, 0, 100).collect()(0)
    assert(got.getDouble(1) === 13.75)
    assert(got.getDouble(2) === 100.0)
  }

  test("A19 Hz WTA-WTA: per-component depth-weighted mean then pct weighting (:8553-8600)") {
    val d = df(hzSchema, Seq(
      Row("m1", 1L, 60.0, 0.0, 50.0, 10.0),  // comp mean 10
      Row("m1", 2L, 40.0, 0.0, 25.0, 20.0))) // comp mean 20 (only 25cm present)
    // (60*10 + 40*20) / 100 = 14
    assert(SdvAgg.hzWtaWta(d, 0, 100).collect()(0).getDouble(1) === 14.0)
  }

  test("A20 Hz DCP-WTA: comppct ties keep all dominant components (:8739-8752)") {
    val d = df(hzSchema, Seq(
      Row("m1", 1L, 40.0, 0.0, 100.0, 10.0),
      Row("m1", 2L, 40.0, 0.0, 100.0, 30.0),
      Row("m1", 3L, 20.0, 0.0, 100.0, 99.0)))
    // comps 1,2 tie at 40 → mean over both = (100*10+100*30)/200 = 20
    assert(SdvAgg.hzDcpWta(d, 0, 100).collect()(0).getDouble(1) === 20.0)
  }
}
