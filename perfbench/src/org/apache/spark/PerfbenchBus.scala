package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event.
  * The bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
