package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Bench, SparkEntry}
import graft.ops.Tables
import graft.pipeline.{Catalog, Pipeline}

/** One benchmark run in one JVM: `Harness <config.json>`.
  *
  * The config (written by `perfbench/run.py`) names the workload, its
  * generated inputs, the measuring time and whether to trace. The harness
  * warms the workload up, sets it up [[Workload.setups]] times (timing
  * each, now that the JVM is warm), then drives its operation in a closed
  * loop, one call at a time, until the time is up. With tracing on, every
  * second operation runs with [[Trace]] attached, so the run can state its
  * own tracing overhead.
  * Everything it measured, and what the checker needs to verify the
  * outputs, goes to `result.json` in the work directory.
  */
object Harness {
  val MaxErrors = 20
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time the program's threads have spent so far, user and system:
    * the process's CPU time less that of the JVM's own threads (JIT
    * compilers, code sweeper, garbage collectors, VM thread). The JVM is
    * started with a fixed set of compiler threads, so none of them exits
    * and takes its time out of the count.
    *
    * Why not wall time: on a shared host the hypervisor steals CPU time
    * from the VM, and on a 4-vCPU VM the same refresh took 3 s in one run
    * and 7 s in a run minutes later. Why not the whole process: the JIT
    * spent 1.5-4.5 s of CPU time in every refresh, at a pace set by how
    * much CPU time the host lent the VM. Left out, five runs of a refresh
    * spread 0.05 of their median while 1% to 25% of the machine's CPU time
    * was stolen.
    */
  def cpuNs(): Long = os.getProcessCpuTime - jvmNs()

  private val jvmThreads = Seq("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
    "Service Thread", "VM Thread", "VM Periodic Tas", "GC Thread#", "G1 ")

  /** CPU time of the JVM's own threads so far, from /proc (clock ticks of
    * 10 ms). */
  def jvmNs(): Long = Option(new File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
    try {
      val stat = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath))
      val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
      if (!jvmThreads.exists(name.startsWith)) 0L
      else {
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        (f(11).toLong + f(12).toLong) * 10000000L // utime, stime
      }
    } catch { case _: java.io.IOException => 0L }
  }.sum

  /** (steal, all) jiffies of the machine so far, from /proc/stat. */
  def stealJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally f.close()
  }

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val work = cfg.get("work").asText
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    try {
      val w = cfg.get("workload").asText match {
        case "b3_full_refresh" => new Refresh(spark, cfg, work)
        case "registry_mix" => new Registry(spark, cfg, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      new Runner(spark, w, cfg.get("seconds").asDouble, cfg.get("trace").asInt == 1, res).run()
    } finally {
      res.write(new File(s"$work/result.json"))
      spark.stop()
    }
  }
}

/** What a run reports; serialized as JSON for the checker. */
final class Result {
  private val fields = new java.util.LinkedHashMap[String, AnyRef]()
  def put(key: String, v: Any): Unit = fields.put(key, Result.toJava(v))
  def write(f: File): Unit = new ObjectMapper().writeValue(f, fields)
}

object Result {
  def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Long.valueOf(i.toLong)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case other => other.toString
  }
}

/** Named time windows recorded by a traced operation, in milliseconds
  * since the epoch so they line up with the job spans Spark reports.
  */
final class Spans {
  val windows = mutable.ArrayBuffer[(String, Long, Long)]()
  val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
  def add(key: String, from: Long, to: Long): Unit = windows += ((key, from, to))
}

/** A workload: a repeatable set-up and one operation driven in a loop. */
abstract class Workload(val spark: SparkSession, val cfg: JsonNode, val work: String) {
  /** Set when the current operation is traced. */
  var spans: Option[Spans] = None
  var trace: Option[Trace] = None

  /** How many times a run sets the workload up; `setup_s` is their median. */
  def setups: Int = 3
  def setup(k: Int): Unit
  /** Untimed operations before the set-ups; returns how many ran. */
  def warmup(): Int = 0
  /** Untimed operations after the set-ups, before timing; returns how
    * many ran. */
  def settle(): Int = 0
  def op(i: Int): Unit
  /** The last operation's cost when it is not what the runner measured
    * around [[op]] (a registry pass leaves out its GC nudges). */
  def lastOpCost: Option[Cost] = None
  /** How many operations an untraced run times at the least. The run
    * goes on past them only while its seconds are not up, and the
    * benchmark's seconds are set so that they are: every run then times
    * the same calls of the sequence, and the calls still get cheaper from
    * one to the next as the JVM warms up. */
  def timedOps: Int = 2
  /** Whether the runner collects garbage, untimed, before each operation,
    * so that no operation pays for the garbage of the one before. */
  def nudgeGc: Boolean = false
  /** Untimed work after an operation: facts the checker needs. */
  def afterOp(i: Int): Unit = ()
  /** Partitions of the table the operation scans (0: not partitioned). */
  def tablePartitions: Double = 0.0
  def finish(res: Result, opsRun: Int): Unit
}

final class Runner(spark: SparkSession, w: Workload, seconds: Double, traced: Boolean,
                   res: Result) {
  private val heap = new HeapPeak
  private val errors = mutable.ArrayBuffer[String]()
  private var opsRun = 0

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def guard(what: String)(f: => Unit): Boolean =
    try { f; true } catch {
      case e: Throwable =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        false
    }

  /** Runs operations until `secs` have passed and at least `atLeast` ran;
    * returns the index and cost of each one that succeeded. `around`
    * brackets each operation and its untimed follow-up, for tracing.
    */
  private def loop(secs: Double, atLeast: Int)(around: (Int, => Unit, => Unit) => Unit): Seq[(Int, Cost)] = {
    val out = mutable.ArrayBuffer[(Int, Cost)]()
    val end = System.nanoTime() + (secs * 1e9).toLong
    val first = opsRun
    do {
      val i = opsRun
      around(i, {
        if (w.nudgeGc) System.gc()
        val start = Cost.start()
        if (guard(s"op $i")(w.op(i))) out += ((i, w.lastOpCost.getOrElse(start.stop())))
      }, guard(s"after op $i")(w.afterOp(i)))
      opsRun += 1
    } while ((System.nanoTime() < end || opsRun - first < atLeast) && errors.size < Harness.MaxErrors)
    out.toSeq
  }

  /** Runs one operation with [[Trace]] attached and adds its per-layer
    * counts to `totals`.
    */
  private def traced(t: Trace, totals: mutable.Map[String, Double])(op: => Unit, after: => Unit): Unit = {
    t.attach()
    val sp = new Spans
    w.spans = Some(sp); w.trace = Some(t)
    val g0 = gcMs()
    val before = t.snapshot()
    op
    val d = Trace.diff(t.snapshot(), before)
    after
    w.spans = None; w.trace = None
    t.detach()
    d("jvm.gc_s") += (gcMs() - g0) / 1e3
    sp.windows.foreach { case (key, from, to) =>
      d(key) += (to - from) / 1e3
      if (key == "write.s") d("write.commit_s") += t.uncoveredMs(from, to) / 1e3
      if (key == "transform.build_s") d("transform.build_jobs") += t.jobsWithin(from, to).size
    }
    sp.counts.foreach { case (k, v) => d(k) += v }
    d.foreach { case (k, v) => totals(k) += v }
    totals("ops") += 1
  }

  def run(): Unit = {
    var warm = 0
    val start = System.nanoTime()
    guard("warmup") { warm = w.warmup() }
    val setups = (0 until w.setups).map { k =>
      val t0 = System.nanoTime()
      guard(s"setup $k")(w.setup(k))
      (System.nanoTime() - t0) / 1e9
    }
    res.put("setup_s", setups)
    guard("settle") { warm += w.settle() }
    res.put("warmup_ops", warm)
    res.put("before_timing_s", (System.nanoTime() - start) / 1e9)
    heap.start()
    val st0 = Harness.stealJiffies()
    def plain(op: => Unit, after: => Unit): Unit = { op; after }
    def put(ops: Seq[(Int, Cost)]): Unit = {
      res.put("ops_ms", ops.map(_._2.wallMs))
      res.put("ops_cpu_ms", ops.map(_._2.cpuMs))
    }
    if (!traced) put(loop(seconds, w.timedOps)((_, op, after) => plain(op, after)))
    else {
      // operations traced in the order untraced, traced, traced, untraced,
      // so both halves see the same machine and, on average, the same point
      // of the warm-up (calls still get cheaper from one to the next); at
      // least two of each, so the overhead is not one call against another
      val isTraced = (i: Int) => i % 4 == 1 || i % 4 == 2
      val t = new Trace(spark)
      val totals = mutable.Map[String, Double]().withDefaultValue(0.0)
      val (tracedOps, plainOps) = loop(seconds, 4) { (i, op, after) =>
        if (isTraced(i)) traced(t, totals)(op, after) else plain(op, after)
      }.partition(o => isTraced(o._1))
      val n = totals.remove("ops").getOrElse(1.0)
      val layers = totals.map { case (k, v) => k -> v / n }
      val files = layers.getOrElse("write.files", 0.0)
      layers("write.rows_per_file") =
        if (files > 0) layers.getOrElse("transform.rows_out", 0.0) / files else 0.0
      val scans = layers.getOrElse("scan.partitioned_scans", 0.0)
      layers("scan.partitions_read_ratio") =
        if (w.tablePartitions > 0 && scans > 0)
          layers.getOrElse("scan.partitions", 0.0) / (scans * w.tablePartitions)
        else 0.0
      put(plainOps)
      res.put("traced_cpu_ms", tracedOps.map(_._2.cpuMs))
      res.put("layers", layers)
    }
    heap.stop()
    val st1 = Harness.stealJiffies()
    res.put("steal_share", (st1._1 - st0._1).toDouble / (st1._2 - st0._2).max(1L))
    res.put("heap_peak_mb", heap.peak / 1048576.0)
    res.put("ops_run", opsRun)
    guard("finish")(w.finish(res, opsRun))
    res.put("errors", errors)
  }
}

/** What one operation cost: wall time and CPU time (see [[Harness.cpuNs]]),
  * in ms. */
final case class Cost(wallMs: Double, cpuMs: Double) {
  def +(o: Cost): Cost = Cost(wallMs + o.wallMs, cpuMs + o.cpuMs)
}

object Cost {
  val zero: Cost = Cost(0.0, 0.0)
  final class Started(t0: Long, c0: Long) {
    def stop(): Cost = Cost((System.nanoTime() - t0) / 1e6, (Harness.cpuNs() - c0) / 1e6)
  }
  def start(): Started = new Started(System.nanoTime(), Harness.cpuNs())
}

/** Highest heap occupancy left after the full collections the harness
  * asks for while `on` (before each operation or registry row, and in
  * [[stop]]): the heap the program retains between calls. A young
  * collection in the middle of a call is not counted: what it leaves
  * includes old-generation garbage that no young collection frees, which
  * made one run in five of the same refresh report 118 MB against 67 MB.
  */
final class HeapPeak {
  @volatile private var on = false
  @volatile var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcCause == "System.gc()") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak = peak.max(used)
          }
        }, null, null)
    case _ =>
  }
  def start(): Unit = on = true
  def stop(): Unit = {
    System.gc()
    peak = peak.max(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    on = false
  }
}

/** EP2: one `Pipeline.run` (extract → transformV1 → writePartitioned →
  * load) over the raw v1 history, into a fresh refined root and fresh
  * catalog databases each time. Set-up is the extract stage alone (catalog
  * registration of the raw partitions); it is cheap, so a run repeats it
  * more often for a steadier median.
  */
final class Refresh(spark: SparkSession, cfg: JsonNode, work: String)
    extends Workload(spark, cfg, work) {
  private val raw = cfg.get("raw").asText
  private val days = cfg.get("days").asInt
  private val keys = Seq("code", "reference_date")
  private val iterations = mutable.ArrayBuffer[Map[String, Any]]()
  private def tag(i: Int) = if (i < 0) s"w${-i}" else i.toString
  private def pipeline(i: Int) = new Pipeline(spark, s"b3_raw_${tag(i)}", s"b3_refined_${tag(i)}")
  private def root(i: Int) = s"$work/refresh-${tag(i)}"
  private def drop(p: String*): Unit = p.foreach(db => spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"))

  override def setups: Int = 7
  def setup(k: Int): Unit = {
    new Pipeline(spark, s"b3_raw_s$k", s"b3_refined_s$k").extract(raw)
    drop(s"b3_raw_s$k", s"b3_refined_s$k")
  }

  /** Two untimed refreshes before the set-ups and one after them. The
    * refreshes keep getting cheaper for several more calls as the JIT
    * works through its queue; a run cannot afford to wait that out, so it
    * times the same calls of the sequence in every run instead
    * ([[timedOps]]). */
  override def warmup(): Int = {
    (1 to 2).foreach { k => op(-k); afterOp(-k) }
    2
  }
  override def settle(): Int = { op(-3); afterOp(-3); 1 }
  override def timedOps: Int = 3
  override def tablePartitions: Double = days
  override def nudgeGc: Boolean = true

  def op(i: Int): Unit = {
    val from = System.currentTimeMillis()
    pipeline(i).run(raw, root(i))
    for (t <- trace; sp <- spans) layers(t, sp, from, System.currentTimeMillis())
  }

  /** Splits one traced `Pipeline.run` call at the SQL executions Spark
    * reported inside it: extract runs from the call's start to the first
    * query that scans data (catalog commands and the raw read's listing),
    * the transform from there to the start of the write (transformV1's
    * eager jobs and the write's planning), the write is the execution that
    * writes files, and load is the rest of the call after it.
    */
  private def layers(t: Trace, sp: Spans, from: Long, to: Long): Unit = {
    val ex = t.executionsWithin(from, to)
    val write = ex.find(_.kind == "write").getOrElse(
      throw new IllegalStateException("Pipeline.run wrote no files"))
    val scan = ex.filter(e => e.kind == "scan" && e.start <= write.start)
      .map(_.start).minOption.getOrElse(write.start)
    sp.add("catalog.extract_s", from, scan)
    sp.add("transform.build_s", scan, write.start)
    sp.add("write.s", write.start, write.end)
    sp.add("catalog.load_s", write.end, to)
  }

  override def afterOp(i: Int): Unit = {
    val rawListed = Catalog.discoverPartitions(spark, raw, Seq("date")).size
    val listed = Catalog.discoverPartitions(spark, root(i), keys).size
    val registered = Catalog.listPartitions(spark, s"b3_refined_${tag(i)}", "pregao_refined").size
    val rawRegistered = Catalog.listPartitions(spark, s"b3_raw_${tag(i)}", "pregao_raw").size
    // the databases are fresh, so every registered partition was added by this call
    spans.foreach { sp =>
      sp.counts("catalog.partitions_listed") += rawListed + listed
      sp.counts("catalog.partitions_added") += rawRegistered + registered
    }
    iterations += Map("root" -> root(i), "listed" -> listed, "registered" -> registered,
      "raw_registered" -> rawRegistered)
    drop(s"b3_raw_${tag(i)}", s"b3_refined_${tag(i)}")
  }

  def finish(res: Result, opsRun: Int): Unit = res.put("iterations", iterations)
}

/** One pass over a fixed list of `SparkEntry.queries` rows, with a GC
  * nudge before each row as `graft.Bench` does. Each row's result is
  * fetched with `collect()`, which materializes every row and column as
  * Bench's noop sink does, and, untimed, written to parquet so the checker
  * compares every pass, timed ones included, with the row's oracle.
  * Set-up builds a BM25 index of the documents (the build
  * `q_bm25_indexed` times). One untimed pass runs before the set-ups and
  * one after them, both checked the same way.
  * A pass's latency is the sum of its rows' times, without the nudges.
  */
final class Registry(spark: SparkSession, cfg: JsonNode, work: String)
    extends Workload(spark, cfg, work) {
  private val sf = cfg.get("sf").asText
  private val rows = cfg.get("rows").elements().asScala.map(_.asText).toIndexedSeq
  private val fns = rows.map(r => r -> SparkEntry.queries(r)).toMap
  private val rowCpuMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val rowErrors = mutable.Map[String, String]()
  private val results = mutable.Map[String, (StructType, Array[Row])]()
  private val passes = mutable.ArrayBuffer[String]()
  private val scratch = new File(System.getProperty("java.io.tmpdir"))
  private val scratchBytes = mutable.ArrayBuffer[Double]()
  private var lastScratch = 0L
  private var passCost = Cost.zero

  def setup(k: Int): Unit =
    graft.text.Bm25.writeBm25Index(Tables.read(spark, sf, "documents"),
      s"$work/registry-setup-$k", nBuckets = 16)

  private def tag(i: Int) = if (i < 0) s"w${-i}" else i.toString

  /** Runs every row once; returns the summed cost of the rows. */
  private def pass(i: Int): Cost = rows.map { r =>
    System.gc()
    val before = trace.map(_.snapshot())
    try {
      val started = Cost.start()
      val df = fns(r)(spark, sf)
      val got = df.collect()
      val cost = started.stop()
      results(r) = (df.schema, got)
      for (t <- trace; b <- before; sp <- spans) {
        sp.counts(s"registry.$r.jobs") += Trace.diff(t.snapshot(), b)("exec.jobs")
        sp.counts(s"registry.${Bench.tierOf(r)}_s") += cost.wallMs / 1e3
      }
      if (i >= 0) rowCpuMs.getOrElseUpdate(r, mutable.ArrayBuffer()) += cost.cpuMs
      cost
    } catch {
      case e: Throwable =>
        results.remove(r)
        rowErrors(s"${tag(i)}/$r") =
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        Cost.zero
    }
  }.foldLeft(Cost.zero)(_ + _)

  /** Writes the results the last pass collected, for the checker. */
  private def save(i: Int): Unit = {
    results.foreach { case (r, (schema, got)) =>
      spark.createDataFrame(java.util.Arrays.asList(got: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/registry-out/${tag(i)}/$r")
    }
    results.clear()
    passes += tag(i)
  }

  override def warmup(): Int = { pass(-1); save(-1); 1 }

  /** No untimed pass after the set-ups, as a run cannot afford another:
    * the first timed pass costs 5-10% more CPU time than the second, and
    * every run times the same two ([[timedOps]]). */
  override def settle(): Int = {
    lastScratch = Registry.bytes(scratch)
    0
  }

  def op(i: Int): Unit = passCost = pass(i)
  override def lastOpCost: Option[Cost] = Some(passCost)

  override def afterOp(i: Int): Unit = {
    save(i)
    val now = Registry.bytes(scratch)
    scratchBytes += (now - lastScratch).toDouble
    lastScratch = now
  }

  def finish(res: Result, opsRun: Int): Unit = {
    res.put("out", s"$work/registry-out")
    res.put("passes", passes)
    res.put("oracle", rows.flatMap(r => SparkEntry.oracleSql.get(r).map(r -> _)).toMap)
    res.put("row_cpu_ms", rowCpuMs)
    res.put("row_errors", rowErrors)
    res.put("scratch_bytes_per_pass", scratchBytes)
  }
}

object Registry {
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L) else f.length()
}
