package org.apache.spark

/** Spark delivers listener events asynchronously, and the call that waits
  * for the bus to drain is private to Spark's namespace, so this one
  * forwarder sits here. Nothing else belongs in this package.
  */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
