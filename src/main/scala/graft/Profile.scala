package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where one call's cost went, layer by layer, read from Spark's public
  * listeners: a `SparkListener` (jobs, stages, task metrics), a
  * `QueryExecutionListener` (Catalyst phase times) and a
  * `StreamingQueryListener` (micro-batch phase times).
  *
  * [[Profile.during]] drains the listener bus, attaches the three
  * listeners, runs the call, drains again and detaches them, so the
  * counters hold exactly the events the call posted and a later call
  * starts from zero. It starts no Spark job of its own.
  */
object Profile {

  /** The counters of one call, by name; [[Layers.Keys]] lists them. */
  final case class Layers(values: Map[String, Double]) {
    def apply(key: String): Double = values.getOrElse(key, 0.0)
    def jobs: Long = apply("jobs").toLong

    /** One JSON object, every key in [[Layers.Keys]] order. */
    def json: String = Layers.Keys.map { k =>
      val v = apply(k)
      "\"" + k + "\":" + (if (v == math.rint(v)) v.toLong.toString else v.toString)
    }.mkString("{", ",", "}")
  }

  object Layers {
    val Keys: Seq[String] = Seq(
      "jobs", "stages", "tasks",
      "run_ms", "cpu_ms", "gc_ms",
      "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
      "analysis_ms", "optimization_ms", "planning_ms",
      "batches", "get_batch_ms", "add_batch_ms", "wal_commit_ms", "commit_ms")
  }

  /** Runs `f` with the three listeners attached and returns its result
    * with the counters of the events it posted.
    */
  def during[T](spark: SparkSession)(f: => T): (T, Layers) = {
    val sc = spark.sparkContext
    val counters = new ConcurrentHashMap[String, Double]()
    def add(key: String, v: Double): Unit = counters.merge(key, v, (a, b) => a + b)

    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        add("tasks", 1)
        add("run_ms", m.executorRunTime.toDouble)
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("gc_ms", m.jvmGCTime.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        for (p <- Seq("analysis", "optimization", "planning"); s <- phases.get(p))
          add(s"${p}_ms", s.durationMs.toDouble)
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val streams = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        add("batches", 1)
        val d = e.progress.durationMs.asScala
        for ((phase, key) <- Seq("getBatch" -> "get_batch_ms", "addBatch" -> "add_batch_ms",
               "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_ms"))
          add(key, d.get(phase).map(_.doubleValue).getOrElse(0.0))
      }
    }

    // events posted before the call must not land on the new listeners
    ListenerBusDrain(sc)
    sc.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
    try {
      val out = f
      ListenerBusDrain(sc)
      (out, Layers(counters.asScala.toMap))
    } finally {
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(queries)
      spark.streams.removeListener(streams)
    }
  }
}
