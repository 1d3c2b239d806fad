package org.apache.spark

/** Access to the one listener-bus call the traced run needs: wait until
  * every posted job and task event has reached the listeners, so spans
  * are attributed from complete data. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
