package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one micro-batch driver every ingest loop runs on: the
  * reference's event-driven path (an object lands, a Lambda starts the
  * Glue job, the job bookmark skips files already read) as
  * `Trigger.AvailableNow` plus a checkpoint. Each drain processes what
  * has arrived since the checkpoint, one `batch(df, batchId)` call per
  * micro-batch, and stops; a drain restarted on the same checkpoint
  * resumes at the first batch that did not commit, with the same batch
  * id, so a batch that writes its `batch_id` segment with dynamic
  * overwrite ([[graft.ops.Segments]]) lands exactly once.
  */
object Ingest {

  /** Start draining `stream` through `batch`, checkpointed at
    * `checkpoint`. The caller awaits the returned query.
    */
  def drain(stream: DataFrame, checkpoint: String)
           (batch: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(batch)
      // stock fs: Spark writes checkpoint logs through the checkpoint
      // manager the session selects, which per-write options cannot reach
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
