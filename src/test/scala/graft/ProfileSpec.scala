package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.ListenerCounts

/** [[Profile.during]]: its counters are the call's own, it adds no job,
  * and it leaves no listener behind.
  */
class ProfileSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  /** `f`'s result and the jobs an independent listener saw it start. */
  private def jobsSeen[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** One registry row, run as Bench runs it: into the noop sink. */
  private def row(name: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  test("a registry row's Layers.jobs equals an independent job count") {
    val ((_, layers), seen) = jobsSeen(Profile.during(spark)(row("q_dedup_minhash_lsh")))
    assert(seen > 0)
    assert(layers.jobs === seen)
    assert(layers("stages") > 0 && layers("tasks") > 0)
    assert(layers("analysis_ms") + layers("optimization_ms") + layers("planning_ms") > 0)
  }

  test("Profile.during starts no job of its own") {
    val ((_, layers), seen) = jobsSeen(Profile.during(spark)(()))
    assert(seen === 0)
    assert(layers.jobs === 0)
  }

  test("a streaming row reports its micro-batches and their phases") {
    val (_, layers) = Profile.during(spark)(row("q_stream_kmv"))
    assert(layers("batches") >= 1)
    assert(layers("add_batch_ms") > 0)
    assert(layers("wal_commit_ms") > 0)
  }

  test("listeners are detached afterwards: a second call counts only itself") {
    def count(): Long = spark.range(0, 1000, 1, 4).selectExpr("sum(id)").head().getLong(0)
    val before = ListenerCounts(spark)
    val (_, first) = Profile.during(spark)(count())
    assert(ListenerCounts(spark) === before)
    val ((_, second), seen) = jobsSeen(Profile.during(spark)(count()))
    assert(ListenerCounts(spark) === before)
    assert(first.jobs > 0)
    assert(second.jobs === seen)
    assert(second.jobs === first.jobs)
  }
}
