package org.apache.spark

/** Deterministic listener drain: blocks until every event posted so far
  * has been delivered to all listeners (`LiveListenerBus` is
  * package-private, so the accessor lives in Spark's package).
  */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
