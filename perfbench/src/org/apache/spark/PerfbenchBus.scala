package org.apache.spark

/** The benchmark's one use of a `private[spark]` member: wait until
  * the listener bus has delivered every event posted so far, so that a
  * traced window is read only after all of its events arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
