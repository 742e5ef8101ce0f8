package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming decontamination at INGEST: every micro-batch of candidate
  * training documents is fuzzy-checked against the STORED benchmark
  * index and only the CLEAN rows are admitted to the output table — the
  * filter-on-arrival shape a production corpus feed runs so benchmark
  * leakage never lands in the training store at all (decontaminating
  * after the fact means rewriting the 100 TB table; decontaminating the
  * feed means each batch pays one signature pass).
  *
  * Mechanism: [[Ingest.drain]] applies the BATCH operator
  * ([[graft.text.Decontaminate.removeNearContaminatedAgainstIndex]]) to
  * each micro-batch — the benchmark side's signatures/token sets come
  * off the index built once by [[graft.text.Decontaminate
  * .writeBenchIndex]] (appends/erases compose through the index verbs),
  * so per-batch cost is the batch's own signature pass plus
  * bucket-pruned index joins. Deliberately NOT a stateful streaming
  * join, for the same reason as [[NearDupIngest]]: the LSH chain is a
  * multi-step aggregation Structured Streaming can't express
  * incrementally, and per-batch application IS the wanted semantics — a
  * doc's verdict depends only on (doc, benchmark index), so the
  * admitted set is invariant under any micro-batch split.
  *
  * Exactly-once: each batch's clean rows land in their own
  * `batch_id=<id>` partition with dynamic partition overwrite
  * ([[graft.ops.Segments]]), so a batch retried after a sink-side crash
  * replaces its own rows instead of double-admitting them.
  */
object DecontamIngest {

  /** One micro-batch filter+admit — public so a retry can be simulated. */
  def writeBatch(batch: DataFrame, batchId: Long, indexPath: String,
                 idCol: String, textCol: String, threshold: Double,
                 outPath: String): Unit =
    graft.ops.Segments.writer(
        graft.text.Decontaminate.removeNearContaminatedAgainstIndex(
          batch, indexPath, idCol, textCol, threshold = threshold),
        "append", Some(batchId))
      .partitionBy("batch_id").parquet(outPath)

  /** Drain `newDocs` through the decontamination gate into `outPath`.
    * The admitted table is the stream's rows minus docs near-matching
    * any live benchmark item at token-Jaccard ≥ `threshold`, with the
    * input schema preserved (plus the `batch_id` partition column).
    * The benchmark index is IMMUTABLE for the stream's life, so it is
    * resolved ONCE here ([[graft.text.Decontaminate.openBenchIndex]]:
    * meta, tombstones, bucket caps, both bench tables pinned) and every
    * micro-batch gates against the cached handle — the same hoist as
    * [[ClusterIngest.startFromHandle]] / [[startSemantic]].
    */
  def start(spark: SparkSession, newDocs: DataFrame, indexPath: String,
            idCol: String, textCol: String, threshold: Double,
            outPath: String, checkpoint: String): StreamingQuery = {
    val handle = graft.text.Decontaminate.openBenchIndex(spark, indexPath)
    Ingest.drain(newDocs, checkpoint) { (batch, batchId) =>
      graft.ops.Segments.writer(
          graft.text.Decontaminate.removeNearContaminatedAgainstHandle(
            batch, handle, idCol, textCol, threshold = threshold),
          "append", Some(batchId))
        .partitionBy("batch_id").parquet(outPath)
    }
  }

  /** The SEMANTIC twin — one embedding-vector micro-batch gated against
    * the stored embed index of the benchmark ([[graft.similarity
    * .SemanticDecontam.removeSemanticContaminatedAgainstIndex]]).
    * Public so a retry can be simulated.
    */
  def writeSemanticBatch(batch: DataFrame, batchId: Long, indexPath: String,
                         tau: Double, idCol: String, vecCol: String,
                         outPath: String): Unit =
    graft.ops.Segments.writer(
        graft.similarity.SemanticDecontam.removeSemanticContaminatedAgainstIndex(
          batch, indexPath, tau, idCol, vecCol),
        "append", Some(batchId))
      .partitionBy("batch_id").parquet(outPath)

  /** Streaming SEMANTIC decontamination at ingest: the embedding feed's
    * micro-batches are gated against the stored benchmark embed index —
    * the filter-on-arrival form of the paraphrase-robust pass, closing
    * the decontamination matrix's (streaming × semantic) cell. Same
    * invariances as [[start]]: verdict = f(vector, index) so the
    * admitted set is split-invariant, and each batch's rows land
    * exactly-once in their own `batch_id` partition. The benchmark
    * index is IMMUTABLE for the stream's life, so it is resolved ONCE
    * here ([[graft.similarity.Ann.openEmbedNearDupIndex]]) and every
    * micro-batch gates against the cached handle — the same hoist as
    * [[ClusterIngest.startFromHandle]]; the r15 shape re-paid the meta
    * collect, cap aggregation and index read per batch.
    */
  def startSemantic(spark: SparkSession, newVecs: DataFrame, indexPath: String,
                    tau: Double, outPath: String, checkpoint: String,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): StreamingQuery = {
    val handle = graft.similarity.Ann.openEmbedNearDupIndex(spark, indexPath)
    Ingest.drain(newVecs, checkpoint) { (batch, batchId) =>
      graft.ops.Segments.writer(
          graft.similarity.SemanticDecontam.removeSemanticContaminatedAgainstHandle(
            batch, handle, tau, idCol, vecCol),
          "append", Some(batchId))
        .partitionBy("batch_id").parquet(outPath)
    }
  }
}
