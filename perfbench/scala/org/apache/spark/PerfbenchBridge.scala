package org.apache.spark

/** One-hop access to the private[spark] listener bus, so the traced run can
  * read its counters only after every event of a measured interval has
  * been delivered (listener delivery is asynchronous).
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
