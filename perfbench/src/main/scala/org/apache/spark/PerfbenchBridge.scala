package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * waits until every queued event reached its listener before it reads
  * the counters of a traced pass.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
