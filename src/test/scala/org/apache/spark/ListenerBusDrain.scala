package org.apache.spark

/** Spark keeps its listener bus package-private, and listeners receive
  * task metrics asynchronously: specs drain the bus before they read
  * what a listener collected. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
