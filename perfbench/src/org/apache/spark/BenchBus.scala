package org.apache.spark

/** Listener-bus drain for the benchmark's traced run: listener events
  * (task ends, query-execution callbacks) are delivered asynchronously,
  * so a span's totals are read only after the bus has caught up.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
