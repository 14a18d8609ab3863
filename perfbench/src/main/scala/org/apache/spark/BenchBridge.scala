package org.apache.spark

/** Waits for Spark's asynchronous listener bus, so listener totals read
  * after an action include all of that action's task-end events. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
