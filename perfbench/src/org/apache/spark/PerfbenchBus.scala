package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark only
  * needs to wait for it to empty before it reads its own listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
