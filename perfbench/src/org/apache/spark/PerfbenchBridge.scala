package org.apache.spark

/** Package-private hook: wait until the listener bus has delivered every
  * posted event, so job records are complete before they are read.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
