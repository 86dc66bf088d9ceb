package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so counters read right after an action include that action's jobs.
  * The bus is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
