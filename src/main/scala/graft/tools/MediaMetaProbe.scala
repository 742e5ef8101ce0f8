package graft.tools

import org.apache.spark.sql.functions._

import graft.io.NioLocalFileSystem
import graft.ops.Tables

/** Receipt for the metadata-at-ingest design ([[graft.streaming
  * .MetaIngest]]): on the same mixed-media corpus, time ONE header
  * peek per payload ([[graft.multimodal.Multimodal.mediaMeta]])
  * against the full perceptual-hash pass a pipeline WITHOUT a
  * metadata gate must attempt — every hash tier probing every
  * payload (image aHash, audio fingerprint, video frame hashes; the
  * wrong-modality attempts emit no rows but still pay their sniff).
  * Both sides read the same parquet, so the scan cost is common and
  * the delta is pure peek-vs-decode.
  *
  * usage: MediaMetaProbe [nDocs] [parts] [small|big]
  * (`big` uses ~30-60 KB payloads — the peek/decode ratio GROWS with
  * payload size, since the peek reads a fixed-size header while the
  * decode reads every pixel/sample)
  */
object MediaMetaProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val parts = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val big = args.drop(2).headOption.contains("big")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64").toInt)
    import spark.implicits._
    def timed(tag: String)(f: => Long): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      val rows = f
      println(f"[probe] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%7.2fs rows=$rows")
    }
    val tmp = java.nio.file.Files.createTempDirectory("media_meta_probe")
    val src = tmp.resolve("docs").toString
    // mixed corpus: JPEG / PNG / WAV / Motion-JPEG MP4, one build ever
    val corpus = spark.range(n.toLong).repartition(parts).as[Long]
      .map { id =>
        val bytes =
          if (big) (id % 4) match {
            case 0 => graft.multimodal.Multimodal.makeJpeg(256, 256, id, gray = true)
            case 1 => graft.multimodal.Multimodal.makePng(128, 128, id)
            case 2 => graft.multimodal.Multimodal.makeWav(16000, 1, 16000, id)
            case _ => graft.multimodal.Multimodal.makeMp4Mjpeg(128, 128, id, 4)
          }
          else (id % 4) match {
            case 0 => graft.multimodal.Multimodal.makeJpeg(32, 32, id, gray = true)
            case 1 => graft.multimodal.Multimodal.makePng(24, 24, id)
            case 2 => graft.multimodal.Multimodal.makeWav(200, 1, 8000, id)
            case _ => graft.multimodal.Multimodal.makeMp4Mjpeg(16, 16, id, 2)
          }
        (id, bytes)
      }
      .toDF("doc_id", "payload")
    NioLocalFileSystem.write(corpus).mode("overwrite").parquet(src)
    val docs = Tables.parquet(spark, src)
    // warmup both paths once (JIT + footer cache)
    graft.multimodal.Multimodal.mediaMeta(spark, docs.limit(2000)).count()
    graft.multimodal.Multimodal.imageAHashes(spark, docs.limit(2000)).count()

    timed("meta_peek (per corpus pass)") {
      graft.multimodal.Multimodal.mediaMeta(spark, docs).count()
    }
    timed("hash_all_tiers (per corpus pass)") {
      // what a gate-less pipeline attempts: every tier, every payload
      val img = graft.multimodal.Multimodal.imageAHashes(spark, docs)
        .select(col("doc_id"))
      val aud = graft.multimodal.Multimodal.audioFingerprints(spark, docs)
        .select(col("doc_id"))
      val vid = graft.multimodal.Multimodal.videoFrameHashes(spark, docs)
        .select(col("doc_id"))
      img.unionAll(aud).unionAll(vid).count()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    spark.stop()
  }
}
