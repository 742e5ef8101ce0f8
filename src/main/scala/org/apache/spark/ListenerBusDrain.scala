package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * `listenerBus` is package-private, so this one call lives in Spark's
  * package; a caller (a test or a probe) reads its listener's record
  * after it, not after a sleep.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
