package org.apache.spark

/** Test access to the driver's listener bus: events reach a SparkListener
  * asynchronously, so a job count read right after an action can be
  * short. Draining first makes the count deterministic. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
