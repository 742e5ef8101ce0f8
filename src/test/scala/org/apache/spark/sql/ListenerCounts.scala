package org.apache.spark.sql

/** How many listeners a session has attached: Spark listeners on the
  * context's bus, query-execution listeners and streaming listeners.
  * The first two lists are private to Spark, so this test helper lives
  * in Spark's package.
  */
object ListenerCounts {
  def apply(spark: SparkSession): Seq[Int] = Seq(
    spark.sparkContext.listenerBus.listeners.size,
    spark.listenerManager.listListeners().length,
    spark.streams.listListeners().length)
}
