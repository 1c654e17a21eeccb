package org.apache.spark

/** Drains the listener bus so every job, stage and task event has reached
  * the benchmark's listener before its records are read. The bus is
  * private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
