package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event of a
  * finished pass (the listener bus is asynchronous and its drain is
  * package-private).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
