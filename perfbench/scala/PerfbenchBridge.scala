package org.apache.spark

/** Reaches the SparkContext's listener bus, which is package-private. */
object PerfbenchBridge {
  /** Blocks until every event posted so far has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
