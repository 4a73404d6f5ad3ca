package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArgBest
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Ranked
import graft.sdv.SdvAgg

/** Randomized property tests (fixed seed) mirroring the
  * gSSURGO_ValidateData-style invariants from SURVEY §5: WTA bounded by
  * input extremes, DCD pct ≤ 100, slice thickness bounded by slice
  * width, dominant rating drawn from the input set. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private val rnd = new Random(42)

  private val numSchema = StructType(Seq(
    StructField("mukey", StringType), StructField("cokey", LongType),
    StructField("comppct", DoubleType), StructField("rating", DoubleType),
    StructField("ratingOrd", DoubleType)))

  private def randomRatingTable(nMu: Int, maxComp: Int): Seq[Row] =
    (1 to nMu).flatMap { m =>
      (1 to (1 + rnd.nextInt(maxComp))).map { c =>
        val r = (rnd.nextInt(1000) + 1).toDouble
        Row(s"m$m", (m * 100 + c).toLong, (rnd.nextInt(60) + 1).toDouble, r, r)
      }
    }

  test("property: WTA lies within [min,max] of each mapunit's ratings") {
    val rows = randomRatingTable(50, 5)
    val d = df(numSchema, rows)
    val bounds = rows.groupBy(_.getString(0)).map { case (m, rs) =>
      m -> (rs.map(_.getDouble(3)).min, rs.map(_.getDouble(3)).max)
    }
    SdvAgg.weightedAverage(d).collect().foreach { r =>
      val (lo, hi) = bounds(r.getString(0))
      assert(r.getDouble(1) >= lo - 1e-9 && r.getDouble(1) <= hi + 1e-9,
        s"WTA ${r.getDouble(1)} outside [$lo,$hi] for ${r.getString(0)}")
    }
  }

  test("property: DCD normalized pct is in (0,100] and rating is an input rating") {
    val rows = randomRatingTable(50, 6)
    val d = df(numSchema, rows)
    val inputs = rows.groupBy(_.getString(0))
      .map { case (m, rs) => m -> rs.map(_.getDouble(3)).toSet }
    SdvAgg.dominantCondition(d).collect().foreach { r =>
      assert(r.getDouble(2) > 0 && r.getDouble(2) <= 100 + 1e-9)
      assert(inputs(r.getString(0)).contains(r.getDouble(1)))
    }
  }

  test("property: dominant component rating is an input rating with max comppct") {
    val rows = randomRatingTable(40, 5)
    val d = df(numSchema, rows)
    val byMu = rows.groupBy(_.getString(0))
    SdvAgg.dominantComponent(d).collect().foreach { r =>
      val rs = byMu(r.getString(0))
      assert(r.getDouble(2) === rs.map(_.getDouble(2)).max)
    }
  }

  test("property: ArgBest equals max_by/min_by over structs and max/min(struct), at 1, 3 and 8 partitions") {
    val schema = StructType(Seq(
      StructField("g", IntegerType), StructField("k1", DoubleType),
      StructField("k2", LongType), StructField("id", LongType),
      StructField("p1", DoubleType), StructField("p2", StringType),
      StructField("keep", BooleanType)))
    val specials = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity)
    def dbl(): Any = rnd.nextInt(10) match {
      case 0 => null
      case 1 | 2 => specials(rnd.nextInt(specials.size))
      case _ => rnd.nextInt(4).toDouble
    }
    // the final key `id` is unique, so no pick depends on arrival order;
    // group 0 skips every row, and a null `keep` is skipped too (the
    // struct form's null ordering)
    val rows = (0 until 800).map { i =>
      val g = rnd.nextInt(50)
      Row(g, dbl(), if (rnd.nextInt(6) == 0) null else rnd.nextInt(3).toLong, i.toLong,
        dbl(), if (rnd.nextInt(6) == 0) null else s"s${rnd.nextInt(9)}",
        if (g == 0) false else if (rnd.nextInt(7) == 0) null else rnd.nextInt(4) != 0)
    }
    val keys = Seq(col("k1"), col("k2"), col("id"))
    val ord = when(col("keep"), struct(keys: _*))
    val keyPay = Seq("k1" -> col("k1"), "k2" -> col("k2"), "id" -> col("id"))
    // all fixed-width (hash-aggregated) and with a string payload
    // (sort-aggregated): both physical paths
    val shapes = Seq(Seq("p1" -> col("p1"), "id" -> col("id")),
      Seq("p1" -> col("p1"), "p2" -> col("p2")))
    def show(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).toSeq.sorted
    // and Ranked.topK equals a driver-side sort-and-take: by g over k2
    // desc (many ties, nulls last) and the unique id asc
    val topOrder = Seq(col("k2").desc, col("id").asc)
    val topTaken = rows.groupBy(_.getInt(0)).toSeq.flatMap { case (g, rs) =>
      rs.sortBy(r => (r.isNullAt(2), if (r.isNullAt(2)) 0L else -r.getLong(2), r.getLong(3)))
        .take(3).zipWithIndex.map { case (r, i) => Row(g, r.getLong(3), i + 1L).toString }
    }.sorted
    val answers = Seq(1, 3, 8).map { parts =>
      val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      val g = d.groupBy(col("g"))
      val picks = shapes.flatMap { pay =>
        val ps = struct(pay.map { case (n, c) => c.as(n) }: _*)
        val flat = g.agg(ArgBest.max(keys, pay, col("keep")).as("hi"),
          ArgBest.min(keys, pay, col("keep")).as("lo"))
        val viaStruct = g.agg(max_by(ps, ord).as("hi"), min_by(ps, ord).as("lo"))
        Seq(show(flat) -> show(viaStruct))
      }
      val flatExtremes = g.agg(ArgBest.max(keys, keyPay).as("hi"), ArgBest.min(keys, keyPay).as("lo"))
      val structExtremes = g.agg(max(struct(keys: _*)).as("hi"), min(struct(keys: _*)).as("lo"))
      picks.foreach { case (flat, _) =>
        assert(flat.contains("[0,null,null]"), "the all-skipped group yields null")
      }
      val all = picks :+ (show(flatExtremes) -> show(structExtremes))
      all.foreach { case (flat, viaStruct) => assert(flat === viaStruct, s"at $parts partitions") }
      val top = show(Ranked.topK(d, Seq(col("g")), topOrder, 3)
        .select(col("g"), col("id"), col("rank")))
      assert(top === topTaken, s"topK at $parts partitions")
      all.map(_._1) :+ top
    }
    assert(answers.distinct.size === 1, "answers depend on the partition count")
  }

  test("property: slice thickness never exceeds the slice width") {
    val hzSchema = StructType(Seq(
      StructField("mukey", StringType), StructField("cokey", LongType),
      StructField("comppct", DoubleType), StructField("hzdept", DoubleType),
      StructField("hzdepb", DoubleType), StructField("rating", DoubleType)))
    // tiling horizons 0..200 in random steps
    val rows = (1 to 30).flatMap { m =>
      var top = 0
      (1 to 5).map { h =>
        val bot = top + 10 + rnd.nextInt(50)
        val r = Row(s"m$m", (m * 10 + 1).toLong, 80.0,
          top.toDouble, bot.toDouble, rnd.nextInt(10).toDouble)
        top = bot
        r
      }
    }
    val d = df(hzSchema, rows)
    SdvAgg.hzWtaSum(d, 0, 100).collect().foreach { r =>
      val tk = r.getDouble(2)
      assert(tk <= 100 + 1e-9, s"thickness $tk > slice width")
    }
  }

  test("distributionDrift: zero on identical vintages, positive under a shift, totals exact") {
    val s = StructType(Seq(StructField("v", LongType)))
    val vals = (0 until 400).map(i => Row((rnd.nextInt(56) * 1000 + 17).toLong))
    val a = df(s, vals)
    val same = graft.validate.Validate.distributionDrift(a, a, "v", 2000L, 27)
      .collect()
    assert(same.nonEmpty)
    // identical histograms ⇒ every contribution and the total are 0
    assert(same.forall(r => r.getLong(3) == 0L && r.getLong(4) == 0L))
    val shifted = a.select((col("v") * 2L).as("v"))
    val drift = graft.validate.Validate.distributionDrift(a, shifted, "v", 2000L, 27)
      .collect()
    val total = drift.head.getLong(4)
    assert(total > 0L, "planted shift must register")
    // drift_nano is the same exact total on every row and equals the
    // sum of the per-bucket integer contributions (order-independent)
    assert(drift.forall(_.getLong(4) == total))
    assert(drift.map(_.getLong(3)).sum == total)
  }

  test("distributionDrift: empty-vintage and negative-value contracts fail loud") {
    val s = StructType(Seq(StructField("v", LongType)))
    val a = df(s, (0 until 50).map(i => Row(i.toLong * 100)))
    val empty = df(s, Seq.empty[Row])
    // one side empty → every p or q is 0/0; must throw, never emit nulls
    intercept[Exception] {
      graft.validate.Validate.distributionDrift(a, empty, "v", 1000L, 9).collect()
    }
    // negative values bucket differently under div vs floor → must throw
    val neg = df(s, Seq(Row(-500L)) ++ (0 until 10).map(i => Row(i.toLong)))
    intercept[Exception] {
      graft.validate.Validate.distributionDrift(neg, a, "v", 1000L, 9).collect()
    }
    // both empty ⇔ empty output (no data, no drift claim)
    assert(graft.validate.Validate
      .distributionDrift(empty, empty, "v", 1000L, 9).collect().isEmpty)
  }

  test("property: restriction depths surviving the check never match any horizon top") {
    val hzS = StructType(Seq(
      StructField("cokey", LongType), StructField("hzdept", DoubleType)))
    val reS = StructType(Seq(
      StructField("cokey", LongType), StructField("resdept", DoubleType)))
    val hzRows = (1L to 40L).flatMap { c =>
      (0 until 1 + rnd.nextInt(4)).map(n => Row(c, n * 30.0))
    }
    val reRows = (1L to 40L).flatMap { c =>
      Seq(Row(c, rnd.nextInt(5) * 30.0), Row(c, rnd.nextInt(5) * 30.0 + 15.0))
    }
    val tops = hzRows.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getDouble(1)).toSet).toMap
    val out = graft.validate.Validate
      .restrictionDepthMismatch(df(reS, reRows), df(hzS, hzRows)).collect()
    // every survivor is a true violation...
    out.foreach { r =>
      assert(!tops(r.getLong(0)).contains(r.getDouble(1)),
        s"reported depth matches a horizon top: $r")
    }
    // ...and every true violation survives (multiset: dup depths both kept)
    val expected = reRows.filter(r => !tops(r.getLong(0)).contains(r.getDouble(1)))
    assert(out.length == expected.length)
  }

  test("property: no-horizon components exclude NOTCOM/NOTPUB/Miscellaneous area exactly") {
    val coS = StructType(Seq(StructField("cokey", LongType),
      StructField("compname", StringType), StructField("compkind", StringType)))
    val hzS = StructType(Seq(
      StructField("cokey", LongType), StructField("hzdept", DoubleType)))
    val coRows = (1L to 60L).map { c =>
      val name = (c % 9) match {
        case 0 => "NOTCOM"; case 1 => "NOTPUB"; case _ => s"COMP-$c"
      }
      val kind = if (c % 7 == 0) "Miscellaneous area" else "Series"
      Row(c, name, kind)
    }
    // only even cokeys carry horizon data
    val hzRows = (1L to 60L).filter(_ % 2 == 0).map(c => Row(c, 0.0))
    val out = graft.validate.Validate
      .componentsNoHorizons(df(coS, coRows), df(hzS, hzRows))
      .collect().map(_.getLong(0)).toSet
    val expected = coRows.filter { r =>
      val (c, n, k) = (r.getLong(0), r.getString(1), r.getString(2))
      c % 2 == 1 && !Set("NOTCOM", "NOTPUB").contains(n) && k != "Miscellaneous area"
    }.map(_.getLong(0)).toSet
    assert(out == expected)
    assert(out.nonEmpty, "fixture must plant real violations")
  }
}
