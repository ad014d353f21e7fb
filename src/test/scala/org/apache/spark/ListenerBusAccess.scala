package org.apache.spark

/** Spark posts listener events asynchronously; specs that count jobs read
  * their counters only after the bus drains. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
