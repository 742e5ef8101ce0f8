package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew soak: measures [[graft.ops.Skew]]'s salted forms against their
  * unsalted twins on a zipf-hot key distribution, at soak row counts.
  *
  * Fixture: `rows` fact rows where HALF hash to ONE user (the hot key)
  * and the rest spread uniformly over 1 M users — a harsher skew than
  * any natural zipf tail, chosen so a single reducer owning the hot key
  * visibly cliffs. The dim side is 1 M users; broadcast is disabled so
  * the join must shuffle (the regime saltedJoin exists for: a dim too
  * big to broadcast joined to a skewed fact).
  *
  * Three join configurations are timed: unsalted with AQE skew-join OFF
  * (the cliff), unsalted with AQE ON (Spark's own runtime mitigation —
  * the production default), and salted with AQE OFF (the explicit
  * mitigation for engines/paths where AQE can't see or split the skew,
  * e.g. a skewed AGGREGATION feeding the join stage it would split).
  * The salted/unsalted SUM pair is also timed — expected ~flat BOTH
  * ways, because hash-aggregate partials combine map-side before the
  * shuffle; recorded to pin that claim rather than assert it.
  *
  * Usage: SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.SkewSoak [rows]"
  * (`runMain` forks the driver JVM with `-Xmx$SPARK_DRIVER_MEM`)
  */
object SkewSoak {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 60000000L
    val spark = graft.GraftSession.local(32, 128)
    // force the shuffle join: the dim must NOT broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import spark.implicits._

    def fact: DataFrame = spark.range(rows).select(
      when(pmod(col("id"), lit(2)) === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(1000000L))).as("user_id"),
      (col("id") % 1000).cast("double").as("value"))
    def dim: DataFrame = spark.range(1000000L)
      .select(col("id").as("user_id"), (col("id") % 97).as("weight"))

    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[skew-soak] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    def aqe(on: Boolean): Unit = {
      spark.conf.set("spark.sql.adaptive.enabled", on.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on.toString)
    }

    println(s"[skew-soak] rows=$rows, hot key owns ~50%")
    aqe(false)
    time("join unsalted, AQE off (the cliff)") {
      fact.join(dim, "user_id")
        .agg(sum(col("value") * col("weight"))).write.format("noop")
        .mode("overwrite").save()
    }
    aqe(true)
    time("join unsalted, AQE skew-join on") {
      fact.join(dim, "user_id")
        .agg(sum(col("value") * col("weight"))).write.format("noop")
        .mode("overwrite").save()
    }
    aqe(false)
    time("join salted (Skew.saltedJoin, 8 buckets), AQE off") {
      graft.ops.Skew.saltedJoin(fact, dim, "user_id", saltBuckets = 8)
        .agg(sum(col("value") * col("weight"))).write.format("noop")
        .mode("overwrite").save()
    }
    aqe(true)
    time("sum unsalted (map-side combine absorbs the skew)") {
      fact.groupBy("user_id").agg(sum("value").as("sum_value"))
        .write.format("noop").mode("overwrite").save()
    }
    time("sum salted (Skew.saltedSum, 16 buckets)") {
      graft.ops.Skew.saltedSum(fact, Seq("user_id"), "value")
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
