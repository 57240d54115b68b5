package org.apache.spark

/** The listener bus's drain is package-private; the trace needs it so that
  * every event of a span has been delivered before the next span starts. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
