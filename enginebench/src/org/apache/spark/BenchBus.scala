package org.apache.spark

/** The listener bus is Spark-internal; the traced run needs to wait until
  * every event of an operation has reached its listeners before it reads
  * the per-operation counters, and only code in this package may ask. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
