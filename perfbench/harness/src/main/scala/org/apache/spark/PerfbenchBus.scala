package org.apache.spark

/** Listener events arrive asynchronously; a traced pass's counters are read
  * only after the bus has delivered everything the pass posted. The wait is
  * package-private in Spark, hence this shim. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
