package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus, so the
  * traced run's counters are complete before they are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
