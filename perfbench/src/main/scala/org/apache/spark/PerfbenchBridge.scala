package org.apache.spark

/** The one Spark-internal call the harness needs: waiting until the
  * listener bus has delivered every event, so a span's attributed work is
  * complete before it is read. */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
