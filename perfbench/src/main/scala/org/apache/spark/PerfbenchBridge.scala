package org.apache.spark

/** The one package-private hook the traced run needs: listener events
  * are delivered asynchronously, so the report waits for the bus to
  * drain before it reads the counters. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
