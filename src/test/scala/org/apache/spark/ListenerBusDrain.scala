package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a SparkListener's counts are complete right after an action. The bus
  * is private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
