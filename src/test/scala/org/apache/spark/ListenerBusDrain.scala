package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object ListenerBusDrain {
  /** Blocks until every posted event has reached the listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
