package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously. Before reading what a
  * listener recorded, wait until Spark has delivered every posted event.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
