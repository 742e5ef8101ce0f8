package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming media METADATA at ingest: every micro-batch of payloads
  * gets one header peek ([[graft.multimodal.Multimodal.mediaMeta]] —
  * no entropy decode, no pixels or samples on the wire), the full
  * metadata rows land exactly-once, and a pruned "kept" table records
  * which documents clear the pipeline's admission thresholds — the
  * production shape where resolution/rate gating happens at ARRIVAL,
  * before any decode or hash tier ever sees the payload. At 100 TB
  * this is the difference between decoding everything and decoding
  * the admitted fraction.
  *
  * Admission predicate (documented, not clever): image/video rows
  * need `width ≥ minWidth && height ≥ minHeight` (unknown dims fail —
  * a header that doesn't say is not a pass), audio rows need
  * `sample_rate ≥ minSampleRate`, `unknown` payloads never pass.
  *
  * Exactly-once ([[graft.ops.Segments]]): both tables are batch_id
  * partitions with dynamic overwrite — a crashed attempt's partial
  * rows are invisible to its own retry (the MediaIngest convention).
  */
object MetaIngest {

  /** One micro-batch peek+gate — public so a retry can be simulated.
    * Writes the full metadata rows under `metaPath` and the admitted
    * (doc_id, kind, format) rows under `keptPath`.
    */
  def writeBatch(batch: DataFrame, batchId: Long,
                 metaPath: String, keptPath: String,
                 minWidth: Int, minHeight: Int, minSampleRate: Int,
                 idCol: String, payloadCol: String): Unit = {
    val spark = batch.sparkSession
    // one header peek ever: both writes below consume the pinned rows
    val meta = graft.multimodal.Multimodal
      .mediaMeta(spark, batch, idCol, payloadCol)
      .localCheckpoint()
    val kept = meta.filter(
      (col("kind").isin("image", "video") &&
        col("width").isNotNull && col("width") >= minWidth &&
        col("height").isNotNull && col("height") >= minHeight) ||
      (col("kind") === "audio" &&
        col("sample_rate").isNotNull && col("sample_rate") >= minSampleRate))
      .select(col("doc_id"), col("kind"), col("format"))
    graft.ops.Segments.writer(meta, "append", Some(batchId))
      .partitionBy("batch_id").parquet(metaPath)
    graft.ops.Segments.writer(kept, "append", Some(batchId))
      .partitionBy("batch_id").parquet(keptPath)
  }

  def start(spark: SparkSession, newMedia: DataFrame,
            metaPath: String, keptPath: String, checkpoint: String,
            minWidth: Int = 1, minHeight: Int = 1, minSampleRate: Int = 1,
            idCol: String = "doc_id",
            payloadCol: String = "payload"): StreamingQuery =
    Ingest.drain(newMedia, checkpoint) { (batch, batchId) =>
      writeBatch(batch, batchId, metaPath, keptPath,
        minWidth, minHeight, minSampleRate, idCol, payloadCol)
    }
}
