package org.apache.spark

/** Listener events are delivered asynchronously; the traced passes wait
  * for the bus to drain before reading what the listeners saw. The bus is
  * private to Spark, hence this accessor in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
