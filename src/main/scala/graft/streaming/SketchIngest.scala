package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{Compaction, Hll, Kmv, QuantileSketch, TopKSketch}

/** Streaming SKETCH maintenance at ingest — the [[IndexIngest]] twin
  * for the persistable-sketch family: every micro-batch appends one
  * sketch-sized segment ([[graft.ops.Hll]] registers,
  * [[graft.ops.QuantileSketch]] histograms, [[graft.ops.TopKSketch]]
  * top-k summaries), so "distinct users ever", "p95 doc length ever"
  * and "top items ever" stay answerable from sketch-sized tables while
  * the feed runs — history is never re-scanned.
  *
  * Exactly-once: every append lands under a `batch_id=<id>` partition
  * with dynamic overwrite (the [[graft.ops.Segments]] convention), so a
  * micro-batch retried after a sink-side crash REPLACES its own partial
  * segment. For HLL a retry was never WRONG (merge is an idempotent
  * max) but would stack files; for quantile histograms and top-k counts
  * an unkeyed retry would double-count — here it cannot.
  *
  * Batch-split invariance: HLL (max-merge) and quantile (sum-merge with
  * FIXED bin edges) reads are invariant to how the feed was cut into
  * micro-batches, by algebra. Top-k reads are NOT: the per-batch
  * truncation bound depends on the cut, so only the BRACKET guarantee
  * (true count ∈ [lower, upper]) is split-invariant — the spec pins
  * exactly that.
  */
object SketchIngest {

  /** One quantile-histogram micro-batch append — public so a retry can
    * be simulated and batch-level orchestration can reuse it. With
    * `compactEvery` > 0, every N-th batch folds the committed segments
    * below the current one ([[graft.ops.Compaction.foldStreamSegments]])
    * — LOSSLESS here: histogram rows are merged by groupBy-sum at read,
    * so consolidating files changes nothing.
    */
  def appendQuantileBatch(batch: DataFrame, batchId: Long,
                          keyCols: Seq[String], valCol: String,
                          lo: Long, hi: Long, nBins: Int,
                          path: String, compactEvery: Int = 0): Unit = {
    if (!batch.isEmpty)
      QuantileSketch.writeSegments(batch, keyCols, valCol, lo, hi, nBins,
        path, batchId = Some(batchId))
    if (Compaction.foldDue(batchId, compactEvery))
      Compaction.foldStreamSegments(batch.sparkSession, path, batchId, None)
  }

  /** Stream rows into quantile-histogram segments. */
  def startQuantile(stream: DataFrame, path: String, checkpoint: String,
                    keyCols: Seq[String], valCol: String,
                    lo: Long, hi: Long, nBins: Int,
                    compactEvery: Int = 0): StreamingQuery =
    Ingest.drain(stream, checkpoint) { (batch, batchId) =>
      appendQuantileBatch(batch, batchId, keyCols, valCol, lo, hi, nBins,
        path, compactEvery)
    }

  /** One HLL-register micro-batch append — `compactEvery` folds as in
    * [[appendQuantileBatch]], equally lossless (register merge is max).
    */
  def appendHllBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
                     valCol: String, path: String,
                     compactEvery: Int = 0): Unit = {
    if (!batch.isEmpty)
      Hll.writeSegments(batch, keyCols, valCol, path, batchId = Some(batchId))
    if (Compaction.foldDue(batchId, compactEvery))
      Compaction.foldStreamSegments(batch.sparkSession, path, batchId, None)
  }

  /** Stream rows into HLL register segments. */
  def startHll(stream: DataFrame, path: String, checkpoint: String,
               keyCols: Seq[String], valCol: String,
               compactEvery: Int = 0): StreamingQuery =
    Ingest.drain(stream, checkpoint) { (batch, batchId) =>
      appendHllBatch(batch, batchId, keyCols, valCol, path, compactEvery)
    }

  /** One KMV bottom-k micro-batch append — `compactEvery` folds as in
    * [[appendQuantileBatch]], lossless here too (bottom-k merge is a
    * selection: re-ranking consolidated segments keeps the same rows).
    */
  def appendKmvBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
                     valCol: String, k: Int, path: String,
                     compactEvery: Int = 0): Unit = {
    if (!batch.isEmpty)
      Kmv.writeSegments(batch, keyCols, valCol, k, path, batchId = Some(batchId))
    if (Compaction.foldDue(batchId, compactEvery))
      Compaction.foldStreamSegments(batch.sparkSession, path, batchId, None)
  }

  /** Stream rows into KMV bottom-k segments — "distinct values ever
    * seen, with a deterministic uniform sample of them" stays a
    * sketch-table read while the feed runs. Bottom-k-of-union ≡
    * union-of-bottom-ks (selection algebra), so reads are batch-split
    * invariant like HLL and quantile.
    */
  def startKmv(stream: DataFrame, path: String, checkpoint: String,
               keyCols: Seq[String], valCol: String, k: Int,
               compactEvery: Int = 0): StreamingQuery =
    Ingest.drain(stream, checkpoint) { (batch, batchId) =>
      appendKmvBatch(batch, batchId, keyCols, valCol, k, path, compactEvery)
    }

  /** One raw-moment micro-batch append ([[graft.similarity.Pca
    * .writeMomentSegments]]) — `compactEvery` folds as in
    * [[appendQuantileBatch]], equally lossless (moment merge is sum).
    */
  def appendMomentBatch(batch: DataFrame, batchId: Long, dim: Int,
                        vecCol: String, path: String,
                        compactEvery: Int = 0): Unit = {
    if (!batch.isEmpty)
      graft.similarity.Pca.writeMomentSegments(batch, dim, path,
        vecCol = vecCol, batchId = Some(batchId))
    if (Compaction.foldDue(batchId, compactEvery))
      Compaction.foldStreamSegments(batch.sparkSession, path, batchId, None)
  }

  /** Stream embedding rows into raw-moment segments — the streaming
    * covariance/PCA maintenance loop: the principal component of
    * "everything ingested so far" stays answerable from a model-sized
    * segment table ((d+1)(d+2)/2 rows per batch), with the corpus never
    * re-scanned. Sum-merge makes reads batch-split invariant by algebra,
    * the same contract as the quantile histograms.
    *
    * `batchIdOffset` shifts this stream's segment keys by a constant —
    * the multi-feed convention: several ingest jobs (or corpus EPOCHS —
    * last month's feed vs this week's) can share one segment table with
    * disjoint batch_id ranges, so epoch-scoped reads (drift between two
    * ranges, per-epoch components) are parquet partition filters on
    * batch_id, and exactly-once stays per-stream (a retry overwrites its
    * own shifted key; ranges never collide across feeds by construction
    * — callers space offsets wider than any feed's batch count). Do NOT
    * combine `compactEvery` with epoch-scoped reads: folding merges
    * segments across batch_id boundaries, which is lossless for the
    * "everything so far" read but erases the range identity an
    * epoch-filtered read keys on.
    */
  def startMoments(stream: DataFrame, path: String, checkpoint: String,
                   dim: Int, vecCol: String = "embedding",
                   compactEvery: Int = 0, batchIdOffset: Long = 0L): StreamingQuery =
    Ingest.drain(stream, checkpoint) { (batch, batchId) =>
      appendMomentBatch(batch, batchId + batchIdOffset, dim, vecCol, path,
        compactEvery)
    }

  /** One top-k-summary micro-batch append. NO compaction hook here, on
    * purpose: top-k reads recover each batch's truncation bound from the
    * `batch_id` partition identity (`distinct(batch_id, bound)`), so
    * folding batches together would collapse equal bounds from different
    * batches and silently NARROW the bracket — segment identity is
    * load-bearing. Bound the file count with k (segments are ≤ k·|keys|
    * rows) and batch cadence instead.
    */
  def appendTopKBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
                      itemCol: String, k: Int, path: String): Unit =
    if (!batch.isEmpty)
      TopKSketch.writeSegment(batch, keyCols, itemCol, k, batchId, path)

  /** Stream rows into top-k heavy-hitter segments. */
  def startTopK(stream: DataFrame, path: String, checkpoint: String,
                keyCols: Seq[String], itemCol: String, k: Int): StreamingQuery =
    Ingest.drain(stream, checkpoint) { (batch, batchId) =>
      appendTopKBatch(batch, batchId, keyCols, itemCol, k, path)
    }
}
