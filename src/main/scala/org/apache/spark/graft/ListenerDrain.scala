package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain, for `TaskMetrics.measure` and the
  * skew tests (the r12 skew-battery flake): `SparkContext.listenerBus` is
  * `private[spark]`, so the skew measurements previously polled the
  * task-end queue for 3×100 ms of stability — late TaskEnd delivery on
  * a loaded machine could drop events past the poll window and flake
  * the per-reducer assertions. This package-escape (the
  * PointInPolygon.scala convention) exposes the bus's own
  * `waitUntilEmpty`, which blocks until every queued event — TaskEnd
  * included — has been dispatched to every listener. */
object ListenerDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
