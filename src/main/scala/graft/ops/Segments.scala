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
    * helper's writer options cannot reach.
    */
  def writer(df: DataFrame, mode: String,
             batchId: Option[Long]): DataFrameWriter[Row] = {
    val keyed = NioLocalFileSystem.write(
      df.withColumn("batch_id", lit(batchId.getOrElse(-1L))))
    if (batchId.isDefined)
      keyed.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else keyed.mode(mode)
  }
}
