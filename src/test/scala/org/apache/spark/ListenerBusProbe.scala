package org.apache.spark

/** Test access to the listener bus. */
object ListenerBusProbe {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
