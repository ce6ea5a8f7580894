package org.apache.spark

/** Listener events arrive asynchronously; the benchmark reads its
  * counters only after the bus has delivered every queued event. The
  * drain call is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
