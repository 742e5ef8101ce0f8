package graft.ops

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._

import graft.io.NioLocalFileSystem

/** Shared write-side helper for batch-keyed index segments — the
  * exactly-once building block used by every persistent index family
  * ([[graft.text.Bm25]], [[graft.similarity.Ivf]],
  * [[graft.similarity.Pq]]) and the streaming ingest loops that append
  * to them ([[graft.streaming.IndexIngest]]).
  *
  * Contract: every segment table carries `batch_id` as its OUTER
  * partition level. The base rebuild writes batch_id=-1, batchless
  * appends stack more files under -1, erase corrections use -2, and a
  * STREAMING append passes its micro-batch id — written with DYNAMIC
  * partition overwrite so a retried micro-batch (sink-side crash after
  * a partial write, before the checkpoint commit) REPLACES its own
  * `batch_id=<id>/...` partitions instead of double-appending and
  * silently inflating the summed stats. Idempotence rests on the batch
  * content being deterministic per batch id, which Structured
  * Streaming's replay guarantees for replayable sources.
  */
object Segments {

  /** Wrap `df` for a segment write: stamps the `batch_id` column and
    * returns a writer in the right mode — dynamic partition overwrite
    * when the segment is batch-keyed, the caller's mode otherwise.
    * Callers finish with `.partitionBy("batch_id", ...).parquet(path)`.
    *
    * The writer comes from [[graft.io.NioLocalFileSystem.write]], the
    * engine's one local write path, so a segment's files, checksums and
    * directories are created without forking `/bin/chmod` for each. This
    * covers the BM25, IVF and PQ segments, the Kmv, Hll, TopK, quantile
    * and PCA sketch segments and the streaming ingest stores. The
    * streaming loops' checkpoint logs still fork: Spark writes them
    * through a checkpoint manager the session selects, which the
    * helper's writer options cannot reach. [[graft.streaming.Ingest.drain]]
    * is the one place where that manager is chosen for every loop.
    */
  def writer(df: DataFrame, mode: String,
             batchId: Option[Long]): DataFrameWriter[Row] = {
    val keyed = NioLocalFileSystem.write(
      df.withColumn("batch_id", lit(batchId.getOrElse(-1L))))
    if (batchId.isDefined)
      keyed.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else keyed.mode(mode)
  }

  /** Runs independent table writes as concurrent Spark jobs. At index
    * sizes each write is mostly fixed per-job latency, so overlapping
    * them keeps the cores busy that a serial chain leaves idle between
    * jobs. The writes must not read one another's output.
    *
    * The caller's thread runs the first write; each other write gets a
    * FRESH thread, which inherits the caller's SparkContext local
    * properties (job group, description, scheduler pool) and active
    * session. A pooled thread would carry whatever an earlier task left.
    * Every thread is joined before the call returns, so no write is
    * still running afterwards; the first failure in argument order is
    * rethrown with the others added as suppressed. An interrupt during
    * the join is held back until all writes are done, then restored.
    */
  def writeAll(writes: (() => Unit)*): Unit = {
    val errors = new Array[Throwable](writes.size)
    def run(i: Int): Unit =
      try writes(i)() catch { case t: Throwable => errors(i) = t }
    val threads = writes.indices.drop(1).flatMap { i =>
      val t = new Thread(() => run(i), s"segments-write-$i")
      t.setDaemon(true)
      try { t.start(); Some(t) }
      catch { case e: Throwable => errors(i) = e; None }
    }
    writes.indices.headOption.foreach(run)
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    errors.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ =>
    }
  }
}
