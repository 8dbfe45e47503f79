package org.apache.spark

import org.apache.spark.scheduler.SparkListener

/** Test access to the listener bus's status queue, the one whose
  * listener feeds `SparkContext.getRDDStorageInfo`. A listener added
  * here runs on the same thread as that listener, so blocking it holds
  * back every later update of the status store. */
object ListenerBusProbe {
  def addToStatusQueue(sc: SparkContext, l: SparkListener): Unit =
    sc.listenerBus.addToStatusQueue(l)

  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
