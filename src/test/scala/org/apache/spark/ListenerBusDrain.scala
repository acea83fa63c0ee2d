package org.apache.spark

/** The listener bus delivers events asynchronously; a spec that asserts
  * what a listener did NOT see must drain it first. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
