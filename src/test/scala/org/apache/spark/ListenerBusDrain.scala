package org.apache.spark

/** Test access to the package-private listener bus: listener events are
  * delivered asynchronously, so a spec that counts jobs must wait for the
  * bus to drain before reading its listener's tally. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
