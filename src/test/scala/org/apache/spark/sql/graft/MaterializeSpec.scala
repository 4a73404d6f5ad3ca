package org.apache.spark.sql.graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import _root_.graft.dedup.Dedup
import _root_.graft.text.TextAnalysis

/** The [[Materialize]] contracts: what a checkpoint leaf reports to the
  * optimizer, that the construction scope always restores the session, and that
  * the operators which used to leave a Dataset cache behind no longer do.
  * In Spark's package, like the module, to read the cache manager. */
class MaterializeSpec extends AnyFunSuite {
  import _root_.graft.TestSpark._

  private val aqeKey = "spark.sql.adaptive.enabled"
  private val partsKey = "spark.sql.shuffle.partitions"

  test("checkpoint keeps the source's size, row count and own-output constraints, no column stats") {
    import org.apache.spark.sql.execution.LogicalRDD
    def leaf(d: org.apache.spark.sql.DataFrame): LogicalRDD =
      d.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    // Range reports size, row count AND a column stat for `id`
    val src = spark.range(100).toDF()
    val srcStats = src.queryExecution.optimizedPlan.stats
    assert(srcStats.rowCount === Some(BigInt(100)) && srcStats.attributeStats.nonEmpty)
    for (eager <- Seq(true, false)) {
      val stats = leaf(Materialize.checkpoint(src, eager)).stats
      assert(stats.sizeInBytes === srcStats.sizeInBytes, s"eager=$eager")
      assert(stats.rowCount === srcStats.rowCount, s"eager=$eager")
      assert(stats.attributeStats.isEmpty, s"eager=$eager")
    }
    // `id > 50` and `isnotnull(id)` are over the leaf's output and stay,
    // so the plan above needs no re-inferred filter (a constraint naming
    // a foreign attribute is dropped — ScaleSpec's towerInsert and
    // index-lake tests fail on the Union otherwise)
    val cp = Materialize.checkpoint(src.filter(col("id") > 50), eager = false)
    val lr = leaf(cp)
    assert(lr.constraints.exists(_.sql.contains("> 50")), lr.constraints)
    assert(lr.constraints.forall(_.references.subsetOf(lr.outputSet)))
    assert(cp.count() === 49L)
  }

  test("sized sets both confs for the body and restores them when it throws") {
    val saved = spark.conf.get(partsKey)
    spark.conf.set(partsKey, "32")
    try {
      val before = (spark.conf.get(aqeKey), spark.conf.get(partsKey))
      assert(before._1 === "true")
      var inside = ("", "")
      val e = intercept[IllegalStateException] {
        Materialize.sized(spark, 1000L) {
          inside = (spark.conf.get(aqeKey), spark.conf.get(partsKey))
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
      assert(inside === (("false", "4")))
      assert((spark.conf.get(aqeKey), spark.conf.get(partsKey)) === before)
      // a conf the session never set explicitly is unset again, not
      // pinned to the value the scope read
      spark.conf.unset(partsKey)
      Materialize.sized(spark, 1000L)(())
      assert(!spark.sessionState.conf.contains(partsKey))
    } finally spark.conf.set(partsKey, saved)
  }

  test("sized: the session's partition count caps the floor of 4, and row count sizes up to it") {
    val before = spark.conf.get(partsKey)
    def sizedAt(n: Int, rows: Long): (String, String) = {
      spark.conf.set(partsKey, n.toString)
      Materialize.sized(spark, rows)((spark.conf.get(partsKey), spark.conf.get(aqeKey)))
    }
    try {
      assert(sizedAt(2, 1000L) === (("2", "false")))
      assert(sizedAt(2, 10000000L) === (("2", "false")))
      assert(sizedAt(32, 1000L) === (("4", "false")))
      assert(sizedAt(32, 2000000L) === (("9", "false")))
      assert(sizedAt(32, 100000000L) === (("32", "false")))
    } finally spark.conf.set(partsKey, before)
  }

  test("dupClusters and dsirScore leave no Dataset cache entry behind") {
    val cacheManager = spark.sharedState.cacheManager
    val entries = cacheManager.numCachedEntries
    val pS = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    val clusters = rowsOf(Dedup.dupClusters(df(pS, Seq(Row(1L, 2L), Row(2L, 3L)))))
    assert(clusters === Seq(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L)))
    val docs = df(StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))), Seq(Row(1L, "a b a b"), Row(2L, "a b c")))
    assert(TextAnalysis.dsirScore(docs, "doc_id", "text", col("doc_id") === 1L)
      .count() === 2L)
    assert(cacheManager.numCachedEntries === entries)
  }
}
