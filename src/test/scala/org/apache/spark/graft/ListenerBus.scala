package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; specs that count them
  * drain the bus first. Lives under org.apache.spark because
  * `listenerBus` is package-private there.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
