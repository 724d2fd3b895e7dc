package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * Traced runs call it at span boundaries, so the events a span caused are
  * attributed to that span and not to the next one.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
