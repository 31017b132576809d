package org.apache.spark

/** The listener bus's completion barrier is `private[spark]`; this is
  * the one call the benchmark needs from it.
  */
object PerfbenchBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
