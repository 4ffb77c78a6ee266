package org.apache.spark

/** Listener-bus access for the benchmark's task ledger: `waitUntilEmpty`
  * is `private[spark]`, and the ledger must see every task-end event of
  * a layer before that layer's metrics are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
