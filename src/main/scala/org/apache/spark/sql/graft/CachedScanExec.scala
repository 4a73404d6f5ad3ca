package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.vectorized.ColumnarBatch

/** A scan of a table cache that is already filled, as a plain leaf that
  * canonicalizes like the scan it wraps.
  *
  * AQE plans every `InMemoryTableScanExec` as a `TableCacheQueryStageExec`,
  * whose canonical form keeps its own stage id and the raw scan (Spark
  * 4.1.2 overrides `doCanonicalize` for exchange stages only). An exchange
  * above a cached scan then canonicalizes differently each time it is
  * planned, AQE's stage cache never matches it, and a subplan that occurs
  * twice in one query runs twice (val07's horizon set, s15's three
  * `customer` shuffles). Over this node the two copies canonicalize equal
  * and the second plans as a `ReusedExchange`. The stage also waits on a
  * fill that has already happened; this leaf does not. */
case class CachedScanExec(scan: InMemoryTableScanExec) extends LeafExecNode {
  override def output: Seq[Attribute] = scan.output
  override def outputPartitioning: Partitioning = scan.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = scan.outputOrdering
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def supportsRowBased: Boolean = scan.supportsRowBased
  override def vectorTypes: Option[Seq[String]] = scan.vectorTypes
  override def metrics: Map[String, SQLMetric] = scan.metrics
  override def innerChildren: Seq[SparkPlan] = Seq(scan)
  override protected def stringArgs: Iterator[Any] = Iterator.empty
  // execute, not doExecute: it also prepares any subquery in the scan's
  // predicates, which no rule sees under this leaf
  override protected def doExecute(): RDD[InternalRow] = scan.execute()
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = scan.executeColumnar()
  override protected def doCanonicalize(): SparkPlan =
    CachedScanExec(scan.canonicalized.asInstanceOf[InMemoryTableScanExec])
}

/** AQE query-stage preparation rule: wrap each scan of a FILLED cache in
  * [[CachedScanExec]]. A cache not filled yet keeps its
  * `TableCacheQueryStage`, so AQE still runs the fill first and reads its
  * statistics. Without a filled cache the rule changes nothing. */
object PlanCachedScans extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s: InMemoryTableScanExec if s.isMaterialized => CachedScanExec(s)
  }
}
