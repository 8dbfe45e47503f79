package org.apache.spark

/** The one engine internal the harness needs: listener events are delivered
  * asynchronously, so counters are read only after the bus has drained. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
