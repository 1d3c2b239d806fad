package org.apache.spark

/** Lets specs wait until every posted listener event has been delivered,
  * so counts kept by a listener are complete when asserted. */
object SpecListeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
