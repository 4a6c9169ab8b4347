package org.apache.spark

/** Waits until every event posted so far has reached every listener. The
  * bus is asynchronous, so without this a job's end event can arrive after
  * the action that ran it has returned.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
