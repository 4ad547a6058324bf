package org.apache.spark

/** Test-only: the listener bus delivers events asynchronously, and
  * `waitUntilEmpty` is package-private. A count taken from a listener is
  * only complete once the bus has drained. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
