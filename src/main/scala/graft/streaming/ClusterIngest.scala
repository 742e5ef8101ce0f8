package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops.{Compaction, Tables}

/** Streaming duplicate-CLUSTER maintenance: a continuous feed of
  * near-dup PAIR edges (the output of the incremental detectors —
  * [[graft.streaming.NearDupIngest]], [[graft.dedup.NearDup
  * .simHashNearDupsAgainstCorpus]], exact batch-vs-history) is folded
  * into a persistent (id, cluster_id) labeling, one micro-batch at a
  * time, WITHOUT ever re-running connected components over the
  * historical pair graph. This closes the last batch-only step of the
  * ingest dedup loop: detect pairs incrementally → now also maintain
  * cluster ids incrementally.
  *
  * Store layout: `path/batch_id=<k>/` parquet segments holding ONLY the
  * rows [[graft.dedup.DupClusters.mergeComponentsDelta]] changed in
  * batch k (relabeled history ids + batch-new ids). The current
  * labeling is latest-per-id over the segments — so steady-state write
  * cost tracks how much actually MERGED in the batch, not history size,
  * and reads are one max_by aggregation (ties impossible: a delta
  * emits each id at most once per batch).
  *
  * Exactly-once: each batch reads only segments with `batch_id <
  * currentBatch` (its own partial rows from a crashed attempt are
  * invisible), recomputes the SAME delta (mergeComponentsDelta is a
  * pure function of that slice + the batch), and rewrites its own
  * partition under dynamic overwrite — a retried micro-batch replaces
  * instead of double-appending, the [[graft.ops.Segments]] contract.
  *
  * Batch-split invariance: component merging under the min-id contract
  * is associative (DupClusters scaladoc), so ANY micro-batch split of
  * the same pair set reads back the identical labeling — the one-shot
  * CC fixpoint (spec-pinned; the gate row shares q_dup_clusters'
  * recursive-CTE oracle verbatim).
  */
object ClusterIngest {

  private def storeExists(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hPath = new HPath(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hPath)
  }

  /** Current labeling: latest segment row per id. `beforeBatch` slices
    * to `batch_id < b` — the write path's self-invisibility rule; reads
    * for consumers pass None (everything committed so far).
    */
  def readLabels(spark: SparkSession, path: String,
                 beforeBatch: Option[Long] = None): DataFrame =
    latestPerId(Tables.parquet(spark, path), beforeBatch)

  private def latestPerId(seg: DataFrame, beforeBatch: Option[Long]): DataFrame = {
    val sliced = beforeBatch.map(b => seg.filter(col("batch_id") < b)).getOrElse(seg)
    sliced.groupBy("id")
      .agg(max_by(col("cluster_id"), col("batch_id")).as("cluster_id"))
  }

  /** One micro-batch fold+write — public so a retry can be simulated. */
  def writeBatch(pairs: DataFrame, batchId: Long, path: String,
                 aCol: String = "id_a", bCol: String = "id_b"): Unit = {
    val spark = pairs.sparkSession
    val current =
      if (storeExists(spark, path)) {
        // explicit schema, typed like the batch's ids: a store whose
        // batches so far merged nothing is a directory without one data
        // file, where inference throws and a schema'd read is empty
        val idType = pairs.schema(aCol).dataType
        val segments = spark.read.schema(new StructType().add("id", idType)
          .add("cluster_id", idType).add("batch_id", LongType)).parquet(path)
        // pinned: mergeComponentsDelta consumes the labeling three ways
        // (both endpoint remaps + the changed-history join) — unpinned,
        // each consumer re-lists and re-reads the segment store and
        // re-runs the latest-per-id aggregation, 3 store reads per
        // micro-batch (guide §2.4). The pin is the same history-sized
        // executor-storage trade the steady-gate handles already make.
        latestPerId(segments, beforeBatch = Some(batchId)).localCheckpoint()
      }
      // first segment: empty labeling typed like the batch's id column
      else pairs.select(col(aCol).as("id"), col(aCol).as("cluster_id")).limit(0)
    graft.ops.Segments.writer(
        graft.dedup.DupClusters.mergeComponentsDelta(current, pairs, aCol, bCol),
        "append", Some(batchId))
      .partitionBy("batch_id").parquet(path)
  }

  /** Fold committed label segments into ONE latest-per-id segment — the
    * maintenance verb that keeps the store's file count bounded by fold
    * cadence instead of one segment per micro-batch. It runs the generic
    * [[graft.ops.Compaction.foldStreamSegments]] skeleton (target
    * naming, `_SUCCESS`-gated crash recovery, source deletes) with a
    * SEMANTIC fold body: the default body MOVES rows and would collapse
    * the per-id batch order `readLabels` ranks by, so here latest-per-id
    * is computed across the source segments at fold time and the folded
    * segment carries exactly one row per id. The fold segment
    * (`batch_id = −(10 + maxFoldedBatch)`) is numerically BELOW every
    * live batch id, which is the correct rank (everything in it predates
    * any surviving batch), and at most one fold segment exists at a time
    * (each fold consumes its predecessors). Returns segments folded.
    */
  def compactLabels(spark: SparkSession, path: String, upTo: Long): Int =
    Compaction.foldStreamSegments(spark, path, upTo, None,
      fold = latestPerId(_, beforeBatch = None))

  /** Post-write maintenance hook shared by every loop below: on the
    * [[graft.ops.Compaction.foldDue]] cadence, fold the label segments so
    * [[readLabels]]' per-batch segment list stays bounded by the cadence
    * instead of growing one segment per micro-batch forever (without
    * this, per-batch read cost grows linearly in stream age ⇒ quadratic
    * total). Transparent to retries: the fold segment ranks below every
    * live batch id, so a replayed batch reads the identical labeling.
    * `compactEvery <= 0` disables.
    */
  private def maybeCompact(spark: SparkSession, path: String,
                           batchId: Long, compactEvery: Int): Unit =
    if (Compaction.foldDue(batchId, compactEvery)) {
      compactLabels(spark, path, upTo = batchId)
      () // segments-folded count is a maintenance detail here
    }

  def start(spark: SparkSession, pairStream: DataFrame, path: String,
            checkpoint: String,
            aCol: String = "id_a", bCol: String = "id_b",
            compactEvery: Int = 16): StreamingQuery =
    Ingest.drain(pairStream, checkpoint) { (batch, batchId) =>
      writeBatch(batch, batchId, path, aCol, bCol)
      maybeCompact(spark, path, batchId, compactEvery)
    }

  /** The fused ingest loop — detector AND cluster maintenance in one
    * streaming pipeline: each micro-batch of NEW embedding vectors is
    * LSH-checked against the static seen corpus
    * ([[graft.similarity.Ann.embeddingNearDupsAgainstCorpus]]) and the
    * resulting (new_id, seen_id) pairs fold straight into the label
    * store. Detection is per-row independent and merging associative,
    * so the read-back labeling is micro-batch-split-invariant: it
    * equals one CC over all batch-vs-seen pairs (the gate row's
    * recursive-CTE oracle). The same fusion works verbatim for the
    * other three incremental detectors — swap the detector call.
    */
  def startFromVectors(spark: SparkSession, vecStream: DataFrame,
                       seenVecs: DataFrame, threshold: Double, path: String,
                       checkpoint: String,
                       nBits: Int = graft.similarity.Ann.AutoBits,
                       maxBucket: Int = 1000,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       compactEvery: Int = 16): StreamingQuery =
    // The seen corpus is STATIC for the stream's life, so its staging
    // (bucket+norm pass, bucket-cap aggregation, broadcast-safety count)
    // is invariant across micro-batches: resolve it ONCE at stream start
    // into the same pinned handle shape the stored-index loop uses,
    // instead of re-paying two full passes over history plus a count
    // inside EVERY micro-batch (the r16 handle-hoist class fix, now
    // applied to the from-raw loop as well — guide §2.4). Identical
    // pairs by [[graft.similarity.Ann.openEmbedNearDupCorpus]]'s
    // contract; the gate row's oracle pins it.
    startFromHandle(spark, vecStream,
      graft.similarity.Ann.openEmbedNearDupCorpus(
        seenVecs, nBits = nBits, maxBucket = maxBucket,
        idCol = idCol, vecCol = vecCol),
      threshold, path, checkpoint, idCol, vecCol, compactEvery)

  /** [[startFromVectors]] probing a STORED embed index
    * ([[graft.similarity.Ann.writeEmbedNearDupIndex]]) through a
    * caller-resolved handle — the steady-state fused loop. The index is
    * IMMUTABLE for the life of the stream, so everything index-shaped is
    * resolved exactly once before the stream starts
    * ([[graft.similarity.Ann.openEmbedNearDupIndex]]: meta collect,
    * index-file read, tombstone anti-join, bucket-cap aggregation, one
    * materialize + count), possibly once across several streams (or
    * several gate passes) over the same index, and each micro-batch
    * closes over the handle — per micro-batch only batch-sized work
    * remains. (The r15 shape re-paid all of that inside every
    * micro-batch and measured 1.8× SLOWER than its from-raw twin;
    * hoisting is the fix the steady split's claim was always about.)
    * Identical labels by the indexed ≡ from-raw contract (shares the
    * gate oracle verbatim).
    */
  def startFromHandle(spark: SparkSession, vecStream: DataFrame,
                      handle: graft.similarity.Ann.EmbedIndexHandle,
                      threshold: Double, path: String,
                      checkpoint: String,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      compactEvery: Int = 16): StreamingQuery =
    Ingest.drain(vecStream, checkpoint) { (batch, batchId) =>
      writeBatch(
        graft.similarity.Ann.embeddingNearDupsAgainstHandle(
          batch, handle, threshold, idCol = idCol, vecCol = vecCol),
        batchId, path, aCol = "new_id", bCol = "seen_id")
      maybeCompact(spark, path, batchId, compactEvery)
    }
}
