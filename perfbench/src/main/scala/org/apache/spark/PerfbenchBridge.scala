package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: metrics
  * read from listener events are complete only once the bus has drained. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
