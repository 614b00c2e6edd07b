package org.apache.spark

/** Waits until Spark has delivered every queued listener event, so the
  * job accounting of a finished pass is complete before it is read.
  * Lives in Spark's package because the listener bus is package-private.
  */
object PerfbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
