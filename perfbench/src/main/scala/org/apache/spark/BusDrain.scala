package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event. The bus is
  * package-private, so this one call lives in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
