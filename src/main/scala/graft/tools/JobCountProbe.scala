package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Receipt probe for ACTION-COUNT optimizations (guide §2.4): runs named
  * registry queries end-to-end (noop sink) and reports how many Spark
  * JOBS each one launched plus wall time. Plan files cannot show
  * per-micro-batch action removal (the foreachBatch body never appears
  * in the final read's plan), but the job count can: every collect /
  * count / localCheckpoint / write inside the loop is one job, so
  * "fewer passes per batch" is directly visible as a smaller count on
  * the identical input.
  *
  * usage: JobCountProbe <sfDir> <query> [<query> ...]
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warmup run (JIT + footer caches), then the counted run — same
      // posture as the bench so walls are comparable
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      System.gc()
      ListenerBusDrain(spark.sparkContext) // the warm-up's events land before the reset
      jobs.set(0)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(spark.sparkContext)
      println(f"[jobcount] $n%-36s jobs=${jobs.get()}%4d wall=$wall%7.2fs")
    }
    spark.stop()
  }
}
