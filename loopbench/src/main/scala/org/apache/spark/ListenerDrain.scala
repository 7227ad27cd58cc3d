package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * listener's totals are complete when read. The bus is package-private
  * to Spark, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
