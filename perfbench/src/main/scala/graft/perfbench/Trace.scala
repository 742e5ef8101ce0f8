package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters read from Spark's public listeners: a `SparkListener`
  * (jobs, stages, task metrics), a `QueryExecutionListener` (Catalyst
  * phase times, scan and write operator metrics) and a
  * `StreamingQueryListener` (micro-batch phase times).
  *
  * Counters only grow. A caller brackets one operation with [[snapshot]]
  * calls and takes the difference; [[snapshot]] first drains the listener
  * bus, so every event posted before it returns has been counted.
  *
  * It also keeps the span of every job and of every top-level SQL
  * execution, so a caller can split the wall time of one call into the
  * parts that wrote, scanned or ran no job at all.
  */
final class Trace(spark: SparkSession) {
  private val counters = new ConcurrentHashMap[String, Double]()
  private val jobStarts = new ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val execStarts = new ConcurrentHashMap[Long, (String, Long)]()
  private val execSpans = new ConcurrentLinkedQueue[Trace.Execution]()

  private def add(key: String, v: Double): Unit = counters.merge(key, v, (a, b) => a + b)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobSpans.add((s, e.time)))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        execStarts.put(s.executionId, (Trace.kind(s.sparkPlanInfo), s.time))
      case x: SparkListenerSQLExecutionEnd =>
        Option(execStarts.remove(x.executionId)).foreach { case (k, t) =>
          execSpans.add(Trace.Execution(k, t, x.time))
        }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      add("exec.tasks", 1)
      add("exec.run_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      for (p <- Seq("analysis", "optimization", "planning"); s <- phases.get(p))
        add(s"plan.${p}_s", s.durationMs / 1e3)
      def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      Trace.nodes(qe.executedPlan).foreach {
        case w: DataWritingCommandExec =>
          add("write.files", metric(w, "numFiles"))
          add("write.bytes", metric(w, "numOutputBytes"))
          add("transform.rows_out", metric(w, "numOutputRows"))
          Trace.nodes(w.child).foreach {
            case s: FileSourceScanExec => add("transform.rows_in", metric(s, "numOutputRows"))
            case _ =>
          }
        case s: FileSourceScanExec =>
          add("scan.files", metric(s, "numFiles"))
          add("scan.bytes", metric(s, "filesSize"))
          if (s.metrics.contains("numPartitions")) {
            add("scan.partitioned_scans", 1)
            add("scan.partitions", metric(s, "numPartitions"))
          }
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      add("stream.batches", 1)
      val d = e.progress.durationMs.asScala
      for ((key, name) <- Seq("getBatch" -> "get_batch_s", "addBatch" -> "add_batch_s",
             "queryPlanning" -> "planning_s", "walCommit" -> "wal_commit_s",
             "commitOffsets" -> "commit_s"))
        add(s"stream.$name", d.get(key).map(_.toDouble / 1e3).getOrElse(0.0))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** Top-level SQL executions that started inside `[from, to]`, by start. */
  def executionsWithin(from: Long, to: Long): Seq[Trace.Execution] = {
    BenchBus.drain(spark.sparkContext)
    execSpans.asScala.toSeq.filter(e => e.start >= from && e.start <= to).sortBy(_.start)
  }

  def snapshot(): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    counters.asScala.toMap
  }

  /** Job spans `(startMs, endMs)` that started inside `[from, to]`. */
  def jobsWithin(from: Long, to: Long): Seq[(Long, Long)] =
    jobSpans.asScala.toSeq.filter { case (s, _) => s >= from && s <= to }

  /** Milliseconds of `[from, to]` that no job span covers. */
  def uncoveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    for ((s, e) <- jobSpans.asScala.toSeq.map { case (s, e) => (s max from, e min to) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > reach) { covered += e - (s max reach); reach = e }
    }
    (to - from) - covered
  }
}

object Trace {
  /** One SQL execution: `kind` is "write" when it writes files, "scan"
    * when it reads them, else "command"; times in epoch milliseconds.
    */
  final case class Execution(kind: String, start: Long, end: Long)

  def kind(p: SparkPlanInfo): String = {
    def all(q: SparkPlanInfo): Seq[SparkPlanInfo] = q +: q.children.flatMap(all)
    val names = all(p).map(_.nodeName)
    if (names.exists(n => n.startsWith("Execute ") && n.contains("Insert"))) "write"
    else if (names.exists(_.startsWith("Scan "))) "scan"
    else "command"
  }

  /** Every physical operator that ran, looking through adaptive
    * execution, query stages and command wrappers; a reused exchange is
    * skipped so its subtree is not counted twice.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Seq.empty
    case other => other +: other.children.flatMap(nodes)
  }

  def diff(after: Map[String, Double], before: Map[String, Double]): mutable.Map[String, Double] = {
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    after.foreach { case (k, v) => out(k) = v - before.getOrElse(k, 0.0) }
    out
  }
}
