package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far
  * — what a spec needs before it reads what a `SparkListener` counted
  * (the bus is `private[spark]`).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
