package org.apache.spark

/** Test-only view of a context's listener bus (its listener list is
  * private to Spark).
  */
object GraftTestBus {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
