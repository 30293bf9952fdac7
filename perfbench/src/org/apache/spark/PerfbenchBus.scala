package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Listener delivery is asynchronous, so metrics read from a listener right
  * after an action can miss that action's last task or progress events.
  * `listenerBus` is package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
