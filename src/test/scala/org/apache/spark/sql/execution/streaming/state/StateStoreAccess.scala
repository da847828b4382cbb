package org.apache.spark.sql.execution.streaming.state

/** Test access to the engine's package-private state store registry. */
object StateStoreAccess {
  /** Close every loaded state store provider now, instead of when the
    * maintenance thread next finds its query inactive. */
  def unloadAll(): Unit = StateStore.unloadAll()
}
