package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's totals are complete when an action has returned. The bus
  * handle is package-private to Spark, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
