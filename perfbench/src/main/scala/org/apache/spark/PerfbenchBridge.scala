package org.apache.spark

/** Reaches the package-private listener bus so the traced run can wait
  * until every event it caused has been delivered before it reads them. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
