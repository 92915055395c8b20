package org.apache.spark

/** Reaches the listener bus, which is package-private, so the benchmark
  * can wait until every posted event has reached its listener before it
  * writes the trace.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
