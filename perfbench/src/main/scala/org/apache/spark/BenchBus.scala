package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * `listenerBus` is package-private, so this one call lives in Spark's
  * package; it replaces a fixed sleep before a trace counter is read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
