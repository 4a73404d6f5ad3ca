package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.PipeCsv
import graft.schema.{SdvAttribute, SsurgoSchema}
import graft.sdv.SdvPlanner.SdvRequest
import graft.valu.{Valu, ValuTable}

/** End-to-end facade tests: landed pipe-text → loadSurvey → soilMap(s),
  * and the Valu1 assembly over real-SSURGO-shaped fixtures. */
class GraftFacadeSpec extends AnyFunSuite {
  import TestSpark._

  test("pipe-text drop → loadSurvey → merged soil maps") {
    val root = tempDir("graft_wss").toString
    // land a minimal survey: mapunit + component as |-text
    val mu = df(SsurgoSchema.mapunit, Seq(
      Row("100001", "AaB", "Alpha silt loam", "L1"),
      Row("100002", "BbC", "Beta loam", "L1")))
    val co = df(SsurgoSchema.component, Seq(
      Row("c1", "100001", 60, "Alpha", "Series", "Yes", null, null, null, null, null, null),
      Row("c2", "100001", 40, "Beta", "Series", "No", null, null, null, null, null, null),
      Row("c3", "100002", 100, "Gamma", "Series", "Yes", null, null, null, null, null, null)))
    PipeCsv.write(mu, s"$root/soil_ne109/tabular/mapunit.txt")
    PipeCsv.write(co, s"$root/soil_ne109/tabular/component.txt")

    val loaded = Graft.loadSurvey(spark, root, "NE109")
    assert(loaded("mapunit").count() === 2)
    assert(loaded("component").schema === SsurgoSchema.component)

    val att1 = SdvAttribute("Pct", "component", "comppct_r", "dcp_pct",
      "Integer", "Dominant Component", complevelattribflag = 1)
    val att2 = SdvAttribute("Pct2", "component", "comppct_r", "wta_pct",
      "Integer", "Weighted Average", complevelattribflag = 1)
    val wide = Graft.soilMaps(loaded)(Seq(att1 -> SdvRequest(), att2 -> SdvRequest()))
    val got = rowsOf(wide)
    // DCP of comppct: 60 and 100; WTA of comppct: (60*60+40*40)/100=52, 100
    assert(got === Seq(Seq("100001", 60.0, 52.0), Seq("100002", 100.0, 100.0)))
  }

  test("Valu1 assembly over SSURGO-shaped horizon fixtures") {
    val hzS = StructType(Seq(
      StructField("mukey", StringType), StructField("cokey", StringType),
      StructField("comppct", DoubleType), StructField("hzdept", DoubleType),
      StructField("hzdepb", DoubleType), StructField("rating", DoubleType),
      StructField("om", DoubleType), StructField("db3i", DoubleType),
      StructField("fragvol", DoubleType), StructField("organicF", BooleanType)))
    val hz = df(hzS, Seq(
      Row("m1", "c1", 100.0, 0.0, 50.0, 0.10, 3.0, 13.0, 0.0, false),
      Row("m1", "c1", 100.0, 50.0, 100.0, 0.20, 1.0, 14.0, 10.0, false)))
    val compS = StructType(Seq(
      StructField("mukey", StringType), StructField("cokey", StringType),
      StructField("comppct", DoubleType)))
    val comp = df(compS, Seq(Row("m1", "c1", 100.0)))
    val interpS = StructType(Seq(
      StructField("mukey", StringType), StructField("cokey", StringType),
      StructField("comppct", DoubleType), StructField("rule", StringType),
      StructField("fuzzy", DoubleType)))
    val interp = df(interpS, Seq(Row("m1", "c1", 100.0, "corn", 9000.0)))
    val base = df(StructType(Seq(StructField("mukey", StringType))), Seq(Row("m1")))

    val wide = ValuTable.build(base, hz, comp,
      major = lit(true), earthy = lit(true), organic = col("organicF"),
      restricted = lit(false), water = lit(false), hydric = lit(false),
      interp = interp, nccpiRules = Seq("corn" -> "nccpi_corn"))
    val r = wide.collect()(0)
    val m = wide.columns.zipWithIndex.toMap
    // aws0_100: Σ pct*ov*awc/10 = 100*(50*.1+50*.2)/10 = 150
    assert(r.getDouble(m("aws0_100")) === 150.0)
    // thickness tk0_100a = 100*100/100 = 100
    assert(r.getDouble(m("tk0_100a")) === 100.0)
    // rootznaws: no restriction → rz=150; no organics; full slice to
    // min(hzdepb, 150): (50*.1+50*.2)=15 → /10 scaling → 1.5
    assert(r.getDouble(m("rootznaws")) === 1.5)
    assert(r.getDouble(m("nccpi_corn")) === 0.9)
    assert(r.getDouble(m("pwsl1pomu")) === 0.0)
    assert(r.getDouble(m("musumcpct")) === 100.0)
  }

  test("R4: renderLines body == render() golden form, including null padding") {
    import graft.report.SdvReport
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("rating", StringType), StructField("pct", StringType)))
    val rows = Seq(Row("m1", "Very limited", "85"), Row("m2", null, "7"),
      Row("m300", "OK", null))
    val rt = df(schema, rows)
    val dist = rt.transform(SdvReport.renderLines(_, "k", Seq("k", "rating", "pct")))
      .orderBy("k").select("line").collect().map(_.getString(0)).toSeq
    val golden = SdvReport.render(rt.orderBy("k"), "t").split("\n")
      .drop(4).dropRight(1).toSeq // title + frame/header handled by render()
    assert(dist === golden)
  }
}
