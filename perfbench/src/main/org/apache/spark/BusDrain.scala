package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a listener's counts are complete when an action returns.
  * The bus is package-private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
