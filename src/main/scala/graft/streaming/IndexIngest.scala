package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Compaction

/** Streaming INDEX maintenance at ingest: every micro-batch of new
  * documents is appended to a persistent retrieval index — the
  * production loop where a continuous feed keeps a search index warm
  * without ever rebuilding it from the 100 TB corpus.
  *
  * Mechanism: [[Ingest.drain]] applies the batch APPEND operator per
  * micro-batch. All the appended indexes here are append-only by
  * construction (BM25 stores per-segment df/stats rows summed at read,
  * [[graft.text.Bm25]]; IVF/IVF-PQ assign against the STORED centroids
  * and codebooks, [[graft.similarity.Ivf]]/[[graft.similarity.Pq]]), so
  * a micro-batch append is one narrow pass over the batch and never
  * touches existing files — which also makes the result batch-split
  * invariant: any partitioning of the feed into micro-batches yields
  * the same final index tables (spec-pinned via query equivalence).
  *
  * Exactly-once: every append is keyed on the micro-batch id — segments
  * land under `batch_id=<id>` partitions written with DYNAMIC partition
  * overwrite ([[graft.ops.Segments]]), so a batch retried after a
  * sink-side crash REPLACES its own partial segment instead of
  * double-appending postings/stats and silently inflating df/N
  * (spec-pinned by replaying a batch twice).
  *
  * Compaction: with `compactEvery` > 0, every N-th batch
  * ([[graft.ops.Compaction.foldDue]]) folds the committed batch
  * segments below the current one into a consolidated segment
  * ([[graft.ops.Compaction.foldStreamSegments]]) — file count
  * stays bounded by the cadence instead of growing per micro-batch.
  * Only batches BELOW the in-flight one fold (the current batch may
  * still retry into its own partition), so compaction and retry
  * idempotence compose.
  */
object IndexIngest {

  /** One BM25 micro-batch append — public so a retry can be simulated
    * (and so batch-level orchestration outside Structured Streaming can
    * reuse the idempotent write).
    */
  def appendBm25Batch(batch: DataFrame, batchId: Long, indexPath: String,
                      nBuckets: Int, idCol: String, textCol: String,
                      compactEvery: Int = 0): Unit = {
    if (!batch.isEmpty)
      graft.text.Bm25.appendBm25Index(batch, indexPath, nBuckets, idCol, textCol,
        batchId = Some(batchId))
    if (Compaction.foldDue(batchId, compactEvery)) {
      val spark = batch.sparkSession
      Compaction.foldStreamSegments(spark, s"$indexPath/postings", batchId, Some("pbucket"))
      Compaction.foldStreamSegments(spark, s"$indexPath/dfreq", batchId, Some("pbucket"))
      Compaction.foldStreamSegments(spark, s"$indexPath/doclen", batchId, None)
      Compaction.foldStreamSegments(spark, s"$indexPath/stats", batchId, None)
    }
  }

  /** Stream documents into a BM25 index previously initialized with
    * [[graft.text.Bm25.writeBm25Index]] (possibly over an empty base).
    */
  def startBm25(newDocs: DataFrame, indexPath: String, checkpoint: String,
                nBuckets: Int = 64,
                idCol: String = "doc_id", textCol: String = "text",
                compactEvery: Int = 0): StreamingQuery =
    Ingest.drain(newDocs, checkpoint) { (batch, batchId) =>
      appendBm25Batch(batch, batchId, indexPath, nBuckets, idCol, textCol, compactEvery)
    }

  /** One IVF micro-batch append — the [[appendBm25Batch]] twin. */
  def appendIvfBatch(batch: DataFrame, batchId: Long, indexPath: String,
                     idCol: String, vecCol: String,
                     compactEvery: Int = 0): Unit = {
    if (!batch.isEmpty)
      graft.similarity.Ivf.appendIvfIndex(batch, indexPath, idCol, vecCol,
        batchId = Some(batchId))
    if (Compaction.foldDue(batchId, compactEvery))
      Compaction.foldStreamSegments(batch.sparkSession, s"$indexPath/lists",
        batchId, Some("cell"))
  }

  /** Stream vectors into an IVF index previously initialized with
    * [[graft.similarity.Ivf.writeIvfIndex]] — appended batches are
    * assigned to the STORED centroids.
    */
  def startIvf(newVecs: DataFrame, indexPath: String, checkpoint: String,
               idCol: String = "vec_id", vecCol: String = "embedding",
               compactEvery: Int = 0): StreamingQuery =
    Ingest.drain(newVecs, checkpoint) { (batch, batchId) =>
      appendIvfBatch(batch, batchId, indexPath, idCol, vecCol, compactEvery)
    }
}
