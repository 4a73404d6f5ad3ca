package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema contract for every driver table (SURVEY TESTDATA.md): the lake
  * is regenerated between rounds, and a silent physical-type drift (round
  * 5: events.ts TIMESTAMP(NANOS)→TIMESTAMP(MICROS)) must fail ONE named
  * spec here, not N anonymous queries downstream. Timestamp columns are
  * allowed either vintage at the parquet layer; `Tables.events` must
  * always normalize `ts` to session TimestampType. */
class TablesSpec extends AnyFunSuite {
  import TestSpark._
  private val sf = "/root/testdata/sf0.001"
  private val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  /** name -> acceptable dtypes (timestamps may arrive NTZ, TZ, or — for
    * events.ts under nanosAsLong — long). */
  private def ts: Set[DataType] = Set(TimestampType, TimestampNTZType)

  private val contract: Map[String, Map[String, Set[DataType]]] = Map(
    "region" -> Map("r_regionkey" -> Set(IntegerType), "r_name" -> Set(StringType)),
    "nation" -> Map("n_nationkey" -> Set(IntegerType), "n_name" -> Set(StringType),
      "n_regionkey" -> Set(IntegerType)),
    "customer" -> Map("c_custkey" -> Set(LongType), "c_name" -> Set(StringType),
      "c_nationkey" -> Set(IntegerType), "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Map("s_suppkey" -> Set(LongType), "s_name" -> Set(StringType),
      "s_nationkey" -> Set(IntegerType), "s_acctbal" -> Set(DoubleType)),
    "part" -> Map("p_partkey" -> Set(LongType), "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> Set(IntegerType), "p_retailprice" -> Set(DoubleType)),
    "orders" -> Map("o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> ts, "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Map("l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
      "l_suppkey" -> Set(LongType), "l_linenumber" -> Set(IntegerType),
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> ts),
    "events" -> Map("event_id" -> Set(LongType), "ts" -> (ts + LongType),
      "user_id" -> Set(LongType), "event_type" -> Set(StringType),
      "value" -> Set(DoubleType), "props" -> Set(StringType)),
    "documents" -> Map("doc_id" -> Set(LongType), "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> Set(LongType)),
    "embeddings" -> Map("vec_id" -> Set(LongType),
      "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, containsNull = false)),
      "label" -> Set(IntegerType))
  )

  Tables.names.foreach { name =>
    test(s"table contract: $name") {
      val want = contract(name)
      val got = Tables.load(spark, sf, name).schema
      assert(got.fieldNames.toSet === want.keySet, s"$name column set drifted")
      got.fields.foreach { f =>
        assert(want(f.name).contains(f.dataType),
          s"$name.${f.name}: lake dtype ${f.dataType} not in accepted set ${want(f.name)}")
      }
    }
  }

  test("Tables.events normalizes ts to session TimestampType (any lake vintage)") {
    assert(Tables.events(spark, sf).schema("ts").dataType === TimestampType)
  }

  test("Tables.normalizeTs rejects an unsupported ts dtype loudly") {
    val bad = Tables.load(spark, sf, "events")
      .withColumn("ts", org.apache.spark.sql.functions.lit("nope"))
    val e = intercept[IllegalStateException](Tables.normalizeTs(bad))
    assert(e.getMessage.contains("unsupported"))
  }

  test("rowCount falls back to a counted scan on layouts the footer path can't total") {
    import java.nio.file.Files
    val root = tempDir("graft_rc").toFile.getAbsolutePath
    // partitioned key=value layout: spark.read.parquet reads it fine,
    // but the flat footer listing sees only subdirectories — Some(0)
    // here would memoize 0 and collapse adaptive parameters (r13
    // advice); the contract is fall back to load(...).count()
    spark.range(7).selectExpr("id", "id % 2 AS k")
      .write.partitionBy("k").parquet(s"$root/parts.parquet")
    assert(Tables.rowCount(spark, root, "parts") === 7L)
    // empty directory (no top-level .parquet): same fallback, and the
    // count reflects whatever spark.read finds — here a failure, which
    // must not be masked by a memoized 0
    Files.createDirectory(new java.io.File(s"$root/none.parquet").toPath)
    intercept[Exception](Tables.rowCount(spark, root, "none"))
  }

  test("clearCache evicts rowCount memos for the cleared dir (lifecycle-consistent)") {
    val root = tempDir("graft_cc").toFile.getAbsolutePath
    spark.range(3).write.parquet(s"$root/t.parquet")
    assert(Tables.rowCount(spark, root, "t") === 3L)
    // rewrite the vintage in-process; a stale memo would keep serving 3
    spark.range(5).write.mode("overwrite").parquet(s"$root/t.parquet")
    GraftSession.forget(spark, root)
    assert(Tables.rowCount(spark, root, "t") === 5L)
  }

  test("n27: two runs in one context leave one apply_lake run copy, same output") {
    val q = SparkEntry.queries("n27_index_lake_apply")
    def runCopies = new java.io.File(GraftSession.scratch(spark, "apply_lake", sf))
      .getParentFile.listFiles.map(_.getName).filter(_.startsWith("apply_lake_run"))
    val first = rowsOf(q(spark, sf))
    val second = rowsOf(q(spark, sf))
    assert(second === first)
    assert(runCopies.length === 1, runCopies.mkString(", "))
  }

  test("cached layout: a03, r02, a02, a04, r01 and v03 match the uncached session at sf0.01") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val names = Seq("a03_dominant_condition", "r02_acreage_report", "a02_dominant_component",
      "a04_dominant_condition_domain", "r01_dominant_component_key", "v03_calc_aws")
    val uncached = names.map(n => rowsOf(SparkEntry.queries(n)(spark, sf001)))
    inCachedSession(sf001) { (cached, dir) =>
      names.zip(uncached).foreach { case (n, want) =>
        assert(rowsOf(SparkEntry.queries(n)(cached, dir)) === want, n)
      }
      // a03 over the cache clustered on l_orderkey (= mukey): four
      // codegen'd hash aggregates, no sort aggregate and no exchange
      val a03 = SparkEntry.benchQueries("a03_dominant_condition")(cached, dir)
      a03.collect()
      val nodes = new AdaptiveSparkPlanHelper {}.collect(a03.queryExecution.executedPlan) {
        case e: Exchange => e.nodeName
        case a: SortAggregateExec => a.nodeName
      }
      assert(nodes.isEmpty, a03.queryExecution.executedPlan.treeString)
    }
  }

  test("cached layout: val07, s15, n18, r07, p08 and v08 (exchange reuse) match the uncached session at sf0.01") {
    // the queries whose cached plans reuse an exchange above a scan of
    // the filled cache (CachedScanExec)
    val names = Seq("val07_restriction_depth", "s15_cdc_apply", "n18_knn_graph",
      "r07_legend_colors", "p08_planner_int_precision", "v08_rz_aws")
    val uncached = names.map(n => rowsOf(SparkEntry.queries(n)(spark, sf001)))
    inCachedSession(sf001) { (cached, dir) =>
      names.zip(uncached).foreach { case (n, want) =>
        assert(rowsOf(SparkEntry.queries(n)(cached, dir)) === want, n)
      }
    }
  }

  test("TaskMetrics.measure surfaces a failing query as an error, never a success") {
    val metrics = new tools.TaskMetrics
    val err = metrics.measure(spark.sparkContext)(throw new RuntimeException("boom")).error
    assert(err.exists(_.contains("boom")))
    val ok = metrics.measure(spark.sparkContext)(()).error
    assert(ok.isEmpty)
  }
}
