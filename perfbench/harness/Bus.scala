package org.apache.spark

/** The listener bus delivers events asynchronously; a traced operation's
  * events are complete only once the bus is empty. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
