package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * counts a listener holds after an action are complete. The bus is
  * package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
