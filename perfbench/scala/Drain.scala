package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this package escape
  * exposes its `waitUntilEmpty`, so a pass's task-end and streaming
  * events are all delivered before the pass's counters are read. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
