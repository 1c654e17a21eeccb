package org.apache.spark

/** Test access to the listener bus, whose drain is Spark-private. */
object ListenerBusDrain {
  /** Blocks until every event posted so far reached the listeners. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
