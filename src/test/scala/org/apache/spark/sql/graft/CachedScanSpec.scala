package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import _root_.graft.{Bench, SparkEntry, Tables}

/** [[CachedScanExec]] and [[PlanCachedScans]]: a scan of a filled cache
  * canonicalizes by its relation alone, so AQE reuses an exchange above
  * it; a cache not filled yet still plans as Spark's table-cache stage.
  * In Spark's package, like the node, to drain the listener bus. */
class CachedScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import _root_.graft.TestSpark._

  private def scanOf(d: DataFrame): InMemoryTableScanExec =
    d.queryExecution.sparkPlan.collectFirst { case s: InMemoryTableScanExec => s }.get

  /** (cached scans, table-cache stages, reused exchanges) in `p`. */
  private def shape(p: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(p) {
      case _: CachedScanExec => "cached"
      case _: TableCacheQueryStageExec => "stage"
      case _: ReusedExchangeExec => "reused"
    }
    (nodes.count(_ == "cached"), nodes.count(_ == "stage"), nodes.count(_ == "reused"))
  }

  test("two CachedScanExecs over one filled cache, with different expression ids, canonicalize equal") {
    def table = spark.range(200).selectExpr("id", "id % 7 AS k")
    val t = table.cache()
    try {
      t.count()
      val (a, b) = (scanOf(table), scanOf(table))
      assert(a.isMaterialized)
      assert(a.output.map(_.exprId) != b.output.map(_.exprId))
      assert(CachedScanExec(a).canonicalized === CachedScanExec(b).canonicalized)
      // Spark's stage wrapper keeps its id and the raw scan, so the same
      // pair canonicalizes apart there: the reason for the node
      assert(TableCacheQueryStageExec(0, a).canonicalized !=
        TableCacheQueryStageExec(1, b).canonicalized)
    } finally t.unpersist(blocking = true)
  }

  test("a cache not filled yet plans a TableCacheQueryStage; once filled, a CachedScan whose exchange is reused") {
    val t = spark.range(1000).selectExpr("id", "id % 7 AS k").cache()
    try {
      def run(): SparkPlan = {
        val agg = t.groupBy("k").agg(sum("id").as("s"))
        val q = agg.as("a").join(agg.as("b"), "k")
        q.collect()
        q.queryExecution.executedPlan
      }
      val first = run()
      assert(shape(first)._1 === 0 && shape(first)._2 > 0, first.treeString)
      val second = run()
      val (scans, stages, reused) = shape(second)
      assert(scans > 0 && stages === 0 && reused > 0, second.treeString)
    } finally t.unpersist(blocking = true)
  }

  test("val07 and s15 in a bench session reuse exchanges over the filled cache; val07 runs in at most 7 jobs") {
    inCachedSession("/root/testdata/sf0.01") { (cached, dir) =>
      Tables.names.foreach(n => Tables.load(cached, dir, n).count())
      for (q <- Seq("val07_restriction_depth", "s15_cdc_apply")) {
        val d = SparkEntry.benchQueries(q)(cached, dir)
        d.collect()
        val p = d.queryExecution.executedPlan
        val (scans, stages, reused) = shape(p)
        assert(scans > 0 && stages === 0 && reused > 0, s"$q\n${p.treeString}")
      }
      // 9 jobs a run when every scan of the cache was its own
      // table-cache stage
      val jobs = new AtomicInteger
      val counter = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      }
      val sc = cached.sparkContext
      sc.addSparkListener(counter)
      try for (_ <- 1 to 2) {
        sc.listenerBus.waitUntilEmpty()
        jobs.set(0)
        Bench.runNoop(cached, dir, "val07_restriction_depth")
        sc.listenerBus.waitUntilEmpty()
        assert(jobs.get <= 7, s"val07 ran ${jobs.get} jobs")
      } finally sc.removeSparkListener(counter)
    }
  }
}
