package org.apache.spark

/** Reaches the one piece of Spark internals the trace needs: draining the
  * listener bus, so every job, stage, task and query-execution event of an
  * op has been delivered before the op's trace window closes. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
