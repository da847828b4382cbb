package org.apache.spark

/** Test access to the context's package-private listener bus. */
object ListenerBusAccess {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
