package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run waits until
  * every job and task event has reached its listener before reading it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
