package graft.tools

import org.apache.spark.sql.functions._

/** Phase decomposition of the q_stream_bm25_ingest row: base rebuild,
  * streaming append drain, and the stored-index probe, each timed
  * separately (plus a second full pass so JIT-cold and warm readings
  * are distinguishable) — the receipt for where the row's seconds live.
  *
  * usage: Bm25IngestProbe [sfDir]
  */
object Bm25IngestProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def timed(tag: String)(f: => Unit): Unit = {
      System.gc()
      val t0 = System.nanoTime(); f
      println(f"[probe] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    (1 to 2).foreach { pass =>
      val tmp = java.nio.file.Files.createTempDirectory(s"bm25_ingest_probe$pass")
      val idxPath = tmp.resolve("idx").toString
      val ckpt = tmp.resolve("ckpt").toString
      timed(s"pass$pass rebuild (doc_id%2==0)") {
        graft.text.Bm25.writeBm25Index(
          docs.filter(col("doc_id") % 2 === 0), idxPath, nBuckets = 16)
      }
      timed(s"pass$pass stream append (odd half)") {
        graft.streaming.IndexIngest.startBm25(
          graft.ops.Tables.readTableStream(spark, dir, "documents")
            .filter(col("doc_id") % 2 === 1),
          idxPath, ckpt, nBuckets = 16).awaitTermination()
      }
      timed(s"pass$pass probe topKAgainstIndex") {
        graft.text.Bm25.topKAgainstIndex(
            docs.filter(col("doc_id") < 3), idxPath, k = 10, nBuckets = 16)
          .orderBy("qid", "rank")
          .write.format("noop").mode("overwrite").save()
      }
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit
    }
    spark.stop()
  }
}
