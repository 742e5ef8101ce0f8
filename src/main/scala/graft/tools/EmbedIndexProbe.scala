package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Soak probe for the stored embedding near-dup index: the bench gate
  * rows probe with a bucket-SATURATING parity batch (every bucket hit,
  * prune inert by design), so this probe measures the PRODUCTION shape
  * — a small ingest batch against the full stored history — where the
  * partition prune and zero seen-side staging actually pay.
  *
  * usage: EmbedIndexProbe <sfDir>
  */
object EmbedIndexProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak100d10")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    def timed(tag: String)(f: => Unit): Unit = {
      System.gc()
      val t0 = System.nanoTime(); f
      println(f"[probe] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    }
    val emb = Tables.parquet(spark, s"$dir/embeddings.parquet")
    val seen = emb.filter(col("vec_id") % 2 === 1)
    val smallBatch = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 1000)
      .localCheckpoint()
    println(s"[probe] seen=${seen.count()} smallBatch=${smallBatch.count()}")
    val tmp = java.nio.file.Files.createTempDirectory("embed_idx_probe")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit))
    val idx = tmp.resolve("idx").toString
    timed("index build (once)") {
      graft.similarity.Ann.writeEmbedNearDupIndex(seen, idx, nBits = 8)
    }
    // warm + 3 readings each, small-batch shape
    def probeIdx(): Unit =
      graft.similarity.Ann.embeddingNearDupsAgainstIndex(smallBatch, idx, threshold = 0.3)
        .write.format("noop").mode("overwrite").save()
    def probeRaw(): Unit =
      graft.similarity.Ann.embeddingNearDupsAgainstCorpus(smallBatch, seen,
          threshold = 0.3, nBits = 8)
        .write.format("noop").mode("overwrite").save()
    probeIdx(); probeRaw()
    (1 to 3).foreach(i => timed(s"small-batch steady probe $i")(probeIdx()))
    (1 to 3).foreach(i => timed(s"small-batch from-raw $i")(probeRaw()))
    // the r16 stream shape: resolve the index ONCE (open pays the
    // staging), then every probe is batch-sized work against the cached
    // handle — what each micro-batch of ClusterIngest.startFromHandle pays
    var handle: graft.similarity.Ann.EmbedIndexHandle = null
    timed("open handle (once per stream)") {
      handle = graft.similarity.Ann.openEmbedNearDupIndex(spark, idx)
    }
    def probeHandle(): Unit =
      graft.similarity.Ann.embeddingNearDupsAgainstHandle(smallBatch, handle, threshold = 0.3)
        .write.format("noop").mode("overwrite").save()
    probeHandle()
    (1 to 3).foreach(i => timed(s"small-batch handle probe $i")(probeHandle()))
    spark.stop()
  }
}
