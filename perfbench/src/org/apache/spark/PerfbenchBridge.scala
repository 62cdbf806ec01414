package org.apache.spark

/** The one scheduler-internal call the benchmark needs: listener events
  * are delivered asynchronously, so a pass's job and task records are only
  * complete once the bus has drained.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
