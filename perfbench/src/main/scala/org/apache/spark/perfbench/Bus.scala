package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the harness drains the
  * bus before it reads what its listeners recorded. Lives under
  * org.apache.spark because `listenerBus` is package-private there.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
