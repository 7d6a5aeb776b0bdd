package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private. */
object ListenerBusAccess {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
