package org.apache.spark

/** The one engine-internal call the harness makes: listener events arrive on
  * an asynchronous bus, so counters read after a query are complete only once
  * the bus has delivered everything posted before the read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
