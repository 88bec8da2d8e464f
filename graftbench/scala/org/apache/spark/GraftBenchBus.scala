package org.apache.spark

/** The benchmark's access to the private[spark] listener bus: drained before
  * counters are read, so listener-attributed counts are exact. */
object GraftBenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
