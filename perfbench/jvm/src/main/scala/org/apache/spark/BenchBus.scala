package org.apache.spark

/** Drains the listener bus so that every event posted so far has reached the
  * listeners. The trace closes a span only after this returns, which is what
  * makes "the span active when the listener sees an event" the span whose
  * call produced it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
