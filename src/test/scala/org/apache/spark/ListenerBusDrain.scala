package org.apache.spark

/** Test access to `SparkContext.listenerBus` (`private[spark]`): job
  * events reach listeners asynchronously, so a count read right after
  * an action must first wait until the bus has delivered them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
