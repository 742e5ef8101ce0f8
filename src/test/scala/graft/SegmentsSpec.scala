package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.ops.Segments

/** [[Segments.writeAll]]: concurrent independent writes, joined before
  * return, on fresh threads that inherit the caller's job properties;
  * and the committer assumption concurrent batch-keyed writers rely on.
  */
class SegmentsSpec extends SparkTestBase {
  import spark.implicits._

  test("writeAll: a failure reaches the caller only after every write has finished") {
    val caller = Thread.currentThread()
    val helpersStarted = new CountDownLatch(2)
    val finished = new AtomicInteger(0)
    val ran = new ConcurrentLinkedQueue[Thread]()
    def slow(): Unit = {
      ran.add(Thread.currentThread())
      helpersStarted.countDown()
      Thread.sleep(300)
      finished.incrementAndGet()
    }
    val err = intercept[IllegalStateException] {
      Segments.writeAll(
        () => {
          ran.add(Thread.currentThread())
          // fail while both slow writes are still running
          assert(helpersStarted.await(30, TimeUnit.SECONDS))
          throw new IllegalStateException("first")
        },
        () => slow(),
        () => slow(),
        () => { ran.add(Thread.currentThread()); throw new IllegalArgumentException("last") })
    }
    assert(err.getMessage === "first")
    assert(err.getSuppressed.map(_.getMessage).toSeq === Seq("last"))
    assert(finished.get === 2, "writeAll returned while a write was still running")
    val threads = ran.asScala.toSeq
    assert(threads.count(_ eq caller) === 1, "the caller's thread runs the first write")
    val helpers = threads.filterNot(_ eq caller)
    assert(helpers.size === 3 && helpers.toSet.size === 3, "one fresh thread per other write")
    assert(helpers.forall(!_.isAlive), "a helper thread outlived the call")
  }

  test("writeAll: jobs of the concurrent writes carry the caller's job group and description") {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    val docs = Seq.tabulate(50)(i => (i.toLong, s"w${i % 7} w${i % 5} w${i % 3}"))
      .toDF("doc_id", "text")
    val tmp = Files.createTempDirectory("segments_group").resolve("idx").toString
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("segments-spec", "index rebuild")
      graft.text.Bm25.writeBm25Index(docs, tmp, nBuckets = 16)
      sc.clearJobGroup()
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val jobs = seen.asScala.toSeq
    assert(jobs.size >= 4, s"one job per table at least, got $jobs")
    assert(jobs.forall(_ == ("segments-spec", "index rebuild")), jobs)
  }

  /** Relative paths under `root` that name staging or task-attempt
    * leftovers of a write.
    */
  private def leftovers(root: JPath): Seq[String] =
    Files.walk(root).iterator().asScala.map(root.relativize(_).toString)
      .filter(p => p.split('/').exists(n =>
        n.startsWith(".spark-staging-") || n == "_temporary"))
      .toSeq

  test("concurrent batch-keyed writes into one root keep both batches, leave no staging") {
    val root = Files.createTempDirectory("segments_shared").resolve("seg")
    def batch(id: Long): Unit =
      Segments.writer(spark.range(0, 2000, 1, 4).select((col("id") * 10 + id).as("v")),
        "append", Some(id))
        .partitionBy("batch_id").parquet(root.toString)
    def rows(id: Long): Set[Long] =
      spark.read.parquet(root.toString).filter(col("batch_id") === id)
        .select("v").as[Long].collect().toSet
    val expected = (id: Long) => (0L until 2000L).map(_ * 10 + id).toSet
    // disjoint batch ids, written at once; then a retried batch beside a new one
    Segments.writeAll(() => batch(1L), () => batch(2L))
    Segments.writeAll(() => batch(1L), () => batch(3L))
    Seq(1L, 2L, 3L).foreach(id => assert(rows(id) === expected(id), s"batch $id"))
    assert(spark.read.parquet(root.toString).count() === 6000L)
    assert(leftovers(root).isEmpty, leftovers(root))
  }
}
