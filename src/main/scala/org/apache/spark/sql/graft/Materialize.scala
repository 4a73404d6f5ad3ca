package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one door for materialization: every intermediate the library
  * lands ([[checkpoint]]) and every AQE / shuffle-partition scope it
  * plans under ([[scoped]]). Package escape, the PointInPolygon
  * convention.
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
  * Scope contract: [[scoped]] sets the session's shuffle-partition
  * count (and optionally AQE) for `body` and restores both after, also
  * when `body` throws. The confs are the SESSION's, so two threads
  * running scopes in one session see each other's settings: [[scoped]]
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

  /** Run `body` with `spark.sql.shuffle.partitions` set to
    * `partitions(n)`, n the session's shuffle-partition count read once
    * on entry, and — when `aqe` is given — AQE set to it; both confs are
    * restored on exit. */
  def scoped[T](spark: SparkSession, partitions: Int => Int = identity,
      aqe: Option[Boolean] = None)(body: => T): T = {
    val conf = spark.sessionState.conf
    val saved = Seq(AqeKey, PartsKey).map(k =>
      k -> Option.when(conf.contains(k))(conf.getConfString(k)))
    try {
      conf.setConfString(PartsKey, partitions(conf.numShufflePartitions).toString)
      aqe.foreach(on => conf.setConfString(AqeKey, on.toString))
      body
    } finally saved.foreach {
      case (k, Some(v)) => conf.setConfString(k, v)
      case (k, None) => conf.unsetConf(k)
    }
  }

  /** Static construction for the iterative/chained operators (ANN graph
    * walks, insert repair, tower maintenance): `body` builds the query
    * with AQE off and shuffle partitions sized to `rows` (≈ the corpus
    * rows the chain's shuffles carry; ~250k rows per partition, floor 4,
    * the session's count the ceiling, which wins over the floor: a
    * `local[2]` session plans 2).
    *
    * Under AQE a lazy [[checkpoint]] is not lazy: planning its RDD
    * forces `AdaptiveSparkPlanExec.getFinalPhysicalPlan`, which runs
    * every exchange of the subtree as a synchronous shuffle job, so a
    * chain of ~20 lazy checkpoints (n20/n22/n23) executes as ~20+
    * SEQUENTIAL job rounds at construction time (r18 StageProbe: n20 at
    * 122 stages, 6.5 task-seconds, 7.7 s wall). With AQE off every
    * checkpoint plans to a static RDD graph with zero jobs, and the
    * final action runs the whole DAG in one job whose independent
    * subtrees overlap on the scheduler; the top-level plan, built after
    * the scope restores AQE, still adapts. Results are
    * partitioning-invariant by the operators' determinism contract. */
  def sized[T](spark: SparkSession, rows: Long)(body: => T): T =
    scoped(spark, n => math.min(n.toLong, math.max(4L, rows / 250000L + 1L)).toInt,
      aqe = Some(false))(body)
}
