package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Constraint-clean lazy local checkpoint (package escape, the
  * PointInPolygon convention).
  *
  * `Dataset.localCheckpoint` captures the source plan's statistics and
  * constraints into the resulting `LogicalRDD` (`originStats` /
  * `originConstraints`). When the source plan filters a shared lineage
  * (e.g. a batch carved out of the corpus by `vid >= n-100`), the
  * captured constraint set can reference attributes that are NOT in
  * the checkpoint's own output; any later Union over a descendant of
  * such a checkpoint then dies in `UnionBase.rewriteConstraints` with
  * `NoSuchElementException: key not found: vid#N` when an optimizer
  * rule interrogates the union's constraints (observed on Spark 4.1.2
  * in the n22 insert-repair plan — union of old-edge, forward-edge and
  * reverse-edge frames, all checkpoint-descended).
  *
  * This helper re-wraps the checkpointed RDD in a `LogicalRDD` with
  * both origin fields cleared: same data, same attributes, same
  * partitioning — the optimizer just falls back to size-based stats
  * and derives constraints from the plan above the leaf, which is
  * exactly what a parquet round-trip (the at-scale equivalent of a
  * checkpoint) would give. */
object CleanCheckpoint {

  /** Block residency for the checkpointed partitions, settable per
    * session via `spark.graft.checkpoint.storageLevel` (any
    * `StorageLevel.fromString` name but NONE, which would leave a
    * lineage-truncated checkpoint with no blocks behind it; a bad value
    * fails naming the key). Default MEMORY_AND_DISK — the
    * right local/batch-session choice. AT SCALE the caller must weigh
    * the contract: localCheckpoint truncates lineage and the blocks
    * live UNREPLICATED on executors, so one lost executor fails the
    * job instead of recomputing. A cluster session materializing a
    * fact-sized frame (the shareBase batch base at 100 TB) should set
    * MEMORY_AND_DISK_2 / DISK_ONLY_2 (survives one executor loss) or
    * land the frame in the lake (parquet round-trip — the durable
    * equivalent this helper's plan shape mimics). ScaleSpec pins the
    * conf plumbing. */
  private def level(df: DataFrame): StorageLevel = {
    val key = "spark.graft.checkpoint.storageLevel"
    val name = df.sparkSession.conf.get(key, "MEMORY_AND_DISK")
    val lvl = try StorageLevel.fromString(name) catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$key: ${e.getMessage}", e)
    }
    require(lvl != StorageLevel.NONE, s"$key=NONE keeps no blocks behind a truncated lineage")
    lvl
  }

  def lazyClean(df: DataFrame): DataFrame = clean(df, eager = false)

  /** [[lazyClean]] with EAGER materialization — for a frame consumed by
    * several INDEPENDENT downstream subtrees of one plan. A lazy local
    * checkpoint persists partitions only as they are first computed,
    * and the scheduler (AQE query stages, or plain concurrent stages)
    * happily launches the consumers concurrently — each then computes
    * the not-yet-persisted lineage from scratch (r18 StageProbe: p09's
    * shareBase base join, nominally materialized once, scanned the
    * 600k-row lineitem four times because the six catalog legs raced
    * it). Eager costs one blocking job; use it exactly where the fan
    * of independent consumers would otherwise race the fill. */
  def eagerClean(df: DataFrame): DataFrame = clean(df, eager = true)

  private def clean(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager, level(df)).asInstanceOf[Dataset[_]]
    val session = cp.sparkSession.asInstanceOf[SparkSession]
    cp.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val clean = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(session, None, None)
        Dataset.ofRows(session, clean)
      case _ => cp.toDF() // checkpoint contract changed — fail open
    }
  }
}
