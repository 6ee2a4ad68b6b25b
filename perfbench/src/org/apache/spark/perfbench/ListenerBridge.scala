package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches the one `private[spark]` member the benchmark needs: the live
  * listener bus, so the traced run can wait until every task-end event has
  * reached its listener before the trace is written out.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
