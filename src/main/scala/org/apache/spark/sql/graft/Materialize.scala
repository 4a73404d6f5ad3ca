package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one door for materialization: every intermediate the library
  * lands ([[checkpoint]]) and every construction scope it plans under
  * ([[sized]]). Package escape, the PointInPolygon convention.
  *
  * Checkpoint contract — what a caller downstream of [[checkpoint]] sees:
  *  - lineage truncated; the plan leaf is a `LogicalRDD` with the source
  *    plan's output attributes, partitioning and ordering;
  *  - blocks kept at `spark.graft.checkpoint.storageLevel` (below);
  *  - statistics: the source plan's `sizeInBytes` and `rowCount` — the
  *    same numbers `Dataset.localCheckpoint` reports, so join selection
  *    over a checkpoint sees the size of what it holds; column
  *    statistics are dropped;
  *  - constraints: the source plan's, restricted to those over the
  *    leaf's own output. `Dataset.localCheckpoint` keeps the whole
  *    captured set, and when the source filters a shared lineage (a
  *    batch carved out of the corpus by `vid >= n-100`) that set can
  *    name attributes outside the checkpoint's output; a Union directly
  *    over such a leaf then dies in `UnionBase.rewriteConstraints` with
  *    `NoSuchElementException: key not found: vid#N` (Spark 4.1.2, the
  *    n22 insert-repair plan). Every other plan node already restricts
  *    its constraints to its output; the leaf does the same. Dropping
  *    them all instead makes the optimizer re-add the null and range
  *    filters they imply and, in the ANN walks, split unions of
  *    checkpoints into more tasks (n20 at sf0.01: 311 tasks against
  *    227).
  *
  * Scope contract: [[sized]] sets the session's AQE flag and
  * shuffle-partition count for `body` and restores both after, also
  * when `body` throws. The confs are the SESSION's, so two threads
  * running scopes in one session see each other's settings: [[sized]]
  * is not thread-safe within one session. */
object Materialize {

  private val LevelKey = "spark.graft.checkpoint.storageLevel"
  private val AqeKey = "spark.sql.adaptive.enabled"
  private val PartsKey = "spark.sql.shuffle.partitions"

  /** Block residency for checkpointed partitions, settable per session
    * via `spark.graft.checkpoint.storageLevel` (any
    * `StorageLevel.fromString` name but NONE, which would leave a
    * lineage-truncated checkpoint with no blocks behind it; a bad value
    * fails naming the key). Default MEMORY_AND_DISK — the right
    * local/batch-session choice. AT SCALE the caller must weigh the
    * contract: localCheckpoint truncates lineage and the blocks live
    * UNREPLICATED on executors, so one lost executor fails the job
    * instead of recomputing. A cluster session materializing a
    * fact-sized frame (the shareBase batch base at 100 TB) should set
    * MEMORY_AND_DISK_2 / DISK_ONLY_2 (survives one executor loss) or
    * land the frame in the lake. ScaleSpec pins the conf plumbing. */
  private def level(df: DataFrame): StorageLevel = {
    val name = df.sparkSession.conf.get(LevelKey, "MEMORY_AND_DISK")
    val lvl = try StorageLevel.fromString(name) catch {
      case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$LevelKey: ${e.getMessage}", e)
    }
    require(lvl != StorageLevel.NONE, s"$LevelKey=NONE keeps no blocks behind a truncated lineage")
    lvl
  }

  /** Local checkpoint of `df` under the contract above.
    *
    * Lazy (`eager = false`) persists partitions as they are first
    * computed, at no construction-time job — but under AQE planning the
    * checkpoint RDD materializes every exchange of its subtree as a
    * blocking job anyway (see [[sized]]). Eager costs one blocking job;
    * use it for a frame consumed by several INDEPENDENT downstream
    * subtrees of one plan: the scheduler launches those consumers
    * concurrently, and each then recomputes a not-yet-persisted lazy
    * fill from scratch (r18 StageProbe: p09's shareBase base join,
    * nominally materialized once, scanned lineitem four times). */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager, level(df)).asInstanceOf[Dataset[_]]
    cp.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val s = lr.computeStats()
        val leaf = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          cp.sparkSession, Some(Statistics(s.sizeInBytes, s.rowCount)),
          Some(lr.constraints.filter(_.references.subsetOf(lr.outputSet))))
        Dataset.ofRows(cp.sparkSession, leaf)
      case _ => cp.toDF() // checkpoint contract changed — fail open
    }
  }

  /** Construction scope: `body` plans with AQE off and
    * `min(n, max(4, rows / 250000 + 1))` shuffle partitions, n the
    * session's own count (the ceiling, which wins over the floor: a
    * `local[2]` session plans 2); both confs are restored on exit.
    * `rows` is the row count the scope's shuffles carry (a table's
    * footer count, a graph's edge count), evaluated once AQE is off, so
    * a count it runs is one static job.
    *
    * Construction and stream-state work is sized to the rows it
    * carries, not to the session's cores. A near-dup graph or a
    * stream's per-batch slice is tiny next to the corpus, and at the
    * session's fact-table count the per-task and per-store overhead is
    * the work: a streaming join's state partition count is fixed at
    * first start by this conf and every batch commits one store per
    * partition (STATUS.md "Streaming state-store sizing": st07
    * 7.7 → 5.9 s, st08 4.4 → 3.1 s), and a graph loop's micro-jobs at
    * 32+ tasks each are scheduling overhead (STATUS.md "pairPageRank":
    * d21 8.9 → 5.5–6.2 s).
    *
    * AQE is off because under AQE a lazy [[checkpoint]] is not lazy:
    * planning its RDD forces `AdaptiveSparkPlanExec.getFinalPhysicalPlan`,
    * which runs every exchange of the subtree as a synchronous shuffle
    * job, so a chain of ~20 lazy checkpoints (n20/n22/n23) executes as
    * ~20+ SEQUENTIAL job rounds at construction time (r18 StageProbe:
    * n20 at 122 stages, 6.5 task-seconds, 7.7 s wall), and a loop of
    * graph-sized jobs pays AQE's re-planning latency per job (measured
    * 2.3× on the whole of `Dedup.dupClusters`). With AQE off every
    * checkpoint plans to a static RDD graph with zero jobs, and the
    * final action runs the whole DAG in one job whose independent
    * subtrees overlap on the scheduler; the top-level plan, built after
    * the scope restores AQE, still adapts. Results are
    * partitioning-invariant by the operators' determinism contract
    * (`PartitionInvarianceSpec`). */
  def sized[T](spark: SparkSession, rows: => Long)(body: => T): T = {
    val conf = spark.sessionState.conf
    val saved = Seq(AqeKey, PartsKey).map(k =>
      k -> Option.when(conf.contains(k))(conf.getConfString(k)))
    try {
      conf.setConfString(AqeKey, "false")
      val n = conf.numShufflePartitions.toLong
      conf.setConfString(PartsKey, math.min(n, math.max(4L, rows / 250000L + 1L)).toString)
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.setConfString(k, v)
      case (k, None) => conf.unsetConf(k)
    }
  }
}
