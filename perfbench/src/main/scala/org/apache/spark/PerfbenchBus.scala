package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * The listener bus is `private[spark]`; this object lives in the
  * `org.apache.spark` package only to reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
