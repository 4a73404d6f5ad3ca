package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Lake, WssLayout}
import graft.streaming.Sessionize

/** Lake layout (partition pruning + per-survey overwrite) and
  * sessionization tests. */
class LakeSessionSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("mukey", StringType), StructField("v", IntegerType),
    StructField("areasymbol", StringType)))

  test("lake: partitioned write prunes partitions on areasymbol filter") {
    val root = tempDir("graft_lake").toString
    val d = df(schema, Seq(Row("m1", 1, "NE109"), Row("m2", 2, "IA021"),
      Row("m3", 3, "NE109")))
    Lake.write(d, root, "mapunit")
    val back = Lake.read(spark, root, "mapunit").filter(col("areasymbol") === "NE109")
    assert(back.count() === 2)
    val plan = back.queryExecution.executedPlan.toString
    // slice the bracketed PartitionFilters list itself — the column
    // name also appears in the scan's output schema on the same
    // rendered line, so a bare contains() check is vacuously true
    // even with PartitionFilters: []
    val pfList = plan.split("PartitionFilters:", 2).lift(1)
      .map(_.takeWhile(_ != ']'))
    assert(pfList.exists(_.contains("areasymbol")),
      s"areasymbol not inside PartitionFilters [..]:\n$plan")
  }

  test("lake: appendSurvey replaces only the re-landed survey partition") {
    val root = tempDir("graft_lake2").toString
    Lake.write(df(schema, Seq(Row("m1", 1, "NE109"), Row("m2", 2, "IA021"))),
      root, "mapunit")
    // re-land IA021 with a new row; NE109 must survive
    Lake.appendSurvey(df(schema, Seq(Row("m2", 99, "IA021"))), root, "mapunit")
    val got = rowsOf(Lake.read(spark, root, "mapunit").select("mukey", "v"))
    assert(got === Seq(Seq("m1", 1), Seq("m2", 99)))
  }

  test("wss layout parses landed zip names") {
    assert(WssLayout.parseZipName("wss_SSA_NE109_[2024-01-15].zip")
      === Some(("NE109", "2024-01-15")))
    assert(WssLayout.parseZipName("junk.zip") === None)
    assert(WssLayout.tabularPath("/lake", "NE109", "comp")
      === "/lake/soil_ne109/tabular/comp.txt")
  }

  test("wss landZip: strips the SSA top folder, lands soil_<ssa> layout, rejects zip-slip") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    def zip(entries: (String, String)*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new ZipOutputStream(bos)
      entries.foreach { case (p, c) =>
        z.putNextEntry(new ZipEntry(p)); z.write(c.getBytes("ISO-8859-1")); z.closeEntry()
      }
      z.close(); bos.toByteArray
    }
    val root = tempDir("graft_landzip").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val dest = WssLayout.landZip(conf, root, "wss_SSA_NE109_[2024-01-15].zip",
      zip("NE109/tabular/legend.txt" -> "L1|NE109"))
    assert(dest === s"$root/soil_ne109")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/soil_ne109/tabular/legend.txt")))
    intercept[IllegalArgumentException] {
      WssLayout.landZip(conf, root, "wss_SSA_NE109_[2024-01-15].zip",
        zip("NE109/../../evil.txt" -> "x"))
    }
    intercept[IllegalArgumentException] {
      WssLayout.landZip(conf, root, "not_a_wss_name.zip", zip("a.txt" -> "x"))
    }
  }

  test("sessionize fold: gap splits sessions, counts correct") {
    val min = 60 * 1000L
    val ts = Seq(0L, 5 * min, 10 * min, 60 * min, 65 * min)
    val got = Sessionize.fold(7L, ts)
    assert(got === Seq(
      Sessionize.Session(7L, 0L, 10 * min, 3, closed = true),
      Sessionize.Session(7L, 60 * min, 65 * min, 2, closed = true)))
  }

  test("sessionize batch: per-user gap-bounded sessions on real events") {
    val ev = Sessionize.fromEvents(spark, Tables.events(spark, "/root/testdata/sf0.001"))
    val sessions = Sessionize.sessionizeBatch(ev).collect()
    assert(sessions.nonEmpty)
    // invariants: sessions ordered and disjoint per user with gap > 30min
    sessions.groupBy(_.user_id).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.start_ms)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.start_ms - a.end_ms > Sessionize.gapMs)
        case _ => ()
      }
      sorted.foreach(s => assert(s.end_ms >= s.start_ms && s.n_events > 0))
    }
  }
}
