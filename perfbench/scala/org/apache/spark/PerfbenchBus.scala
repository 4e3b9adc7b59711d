package org.apache.spark

/** The listener bus's drain is `private[spark]`; the traced run waits on it
  * so every stage, task and query event of a span has arrived before the
  * next span starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
