package org.apache.spark

/** The one listener-bus call the benchmark needs that Spark keeps
  * package-private: block until every posted event has reached the
  * listeners, so window totals are complete when they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
