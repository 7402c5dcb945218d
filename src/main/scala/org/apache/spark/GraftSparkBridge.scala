package org.apache.spark

import java.io.File

/** Bridge to the two package-private Spark services the engine uses:
  * the listener bus (drained before a listener's counts are read) and
  * `Utils.createTempDir` (a temp dir Spark deletes at JVM shutdown). */
object GraftSparkBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def createTempDir(namePrefix: String): File =
    util.Utils.createTempDir(System.getProperty("java.io.tmpdir"),
      namePrefix)
}
