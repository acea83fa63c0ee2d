package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run must
  * drain it before reading what its listener gathered. `waitUntilEmpty`
  * is package-private to Spark, hence this one-line bridge. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
