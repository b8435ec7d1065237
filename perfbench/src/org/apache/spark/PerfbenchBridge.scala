package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: task
  * metrics reach listeners asynchronously, so the benchmark drains the bus
  * before it reads them. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
