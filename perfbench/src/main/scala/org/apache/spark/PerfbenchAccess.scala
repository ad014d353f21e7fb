package org.apache.spark

/** The one driver internal the benchmark needs: Spark posts listener
  * events asynchronously, so counters are read only after the bus drains. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
