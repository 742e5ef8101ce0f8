package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.ops.Segments
import graft.streaming.Ingest

/** [[graft.streaming.Ingest.drain]], the one micro-batch driver: a drain
  * that fails inside a batch and is restarted on its checkpoint replays
  * that batch under the same id, so a `batch_id`-keyed segment write
  * lands exactly once.
  */
class IngestSpec extends SparkTestBase {

  test("a drain restarted on its checkpoint after a failed batch equals an uninterrupted drain") {
    val tmp = java.nio.file.Files.createTempDirectory("ingest_restart")
    val srcDir = tmp.resolve("src").toString
    spark.range(0, 60).select(col("id"), (col("id") % 7).as("k"))
      .repartition(4).write.parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    // one file per micro-batch: four batches, so batch 1 has a successor
    def stream(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    def writeSegment(out: String)(batch: DataFrame, batchId: Long): Unit =
      Segments.writer(batch, "append", Some(batchId)).partitionBy("batch_id").parquet(out)

    val clean = tmp.resolve("clean").toString
    Ingest.drain(stream(), tmp.resolve("ckpt_clean").toString)(writeSegment(clean))
      .awaitTermination()

    // batch 1 writes its segment, then fails before its commit is logged
    val store = tmp.resolve("store").toString
    val ckpt = tmp.resolve("ckpt").toString
    val crashed = new AtomicBoolean(false)
    val batch: (DataFrame, Long) => Unit = { (df, batchId) =>
      writeSegment(store)(df, batchId)
      if (batchId == 1L && crashed.compareAndSet(false, true))
        throw new IllegalStateException("injected failure after batch 1's segment write")
    }
    val failed = intercept[StreamingQueryException] {
      Ingest.drain(stream(), ckpt)(batch).awaitTermination()
    }
    assert(failed.getCause.getMessage.contains("injected failure"))
    Ingest.drain(stream(), ckpt)(batch).awaitTermination()

    def rows(path: String): Seq[String] = spark.read.parquet(path)
      .select("batch_id", "id", "k").orderBy("batch_id", "id").collect().map(_.toString).toSeq
    assert(spark.read.parquet(clean).select("batch_id").distinct().count() === 4)
    assert(rows(store) === rows(clean))
    val batch1 = spark.read.parquet(store).filter(col("batch_id") === 1L)
    assert(batch1.count() > 0)
    assert(batch1.count() === batch1.select("id").distinct().count(),
      "the replayed batch 1 must replace its first attempt's segment, not add to it")
  }
}
