package graft.tools

import org.apache.spark.sql.functions._

import graft.io.NioLocalFileSystem
import graft.ops.Tables

/** Receipt for the r17-s2 decode-envelope breadth: per FORMAT, one
  * scan-stage decode+hash pass over a single-class corpus — seconds,
  * docs/s, and the output row count, which must equal the corpus size
  * (a decode-coverage proof at probe scale: every payload of every
  * in-envelope class yields its hash through the REAL decoder, no
  * stub, no skip). A final mixed-corpus pass runs all three hash
  * tiers over the union — the production pipeline shape — so the
  * per-class numbers can be read against a combined throughput.
  *
  * The point at 100 TB: the decode tier is stateless mapPartitions —
  * no shuffle, no state, no history term — so per-class docs/s here
  * IS the per-core scaling unit; a 1000-executor cluster multiplies
  * it linearly. The per-class variation (JPEG entropy decode vs BMP
  * row walk vs FLAC Rice decode) tells a capacity planner which
  * formats dominate a mixed corpus's decode bill.
  *
  * usage: DecodeBreadthProbe [nPerClass] [parts]
  */
object DecodeBreadthProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val parts = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64").toInt)
    import spark.implicits._
    import graft.multimodal.{Multimodal => M}
    // (class, tier, payload builder) — every decodable family of the
    // envelope, fixture sizes in the small-web-asset range
    val classes: Seq[(String, String, Long => Array[Byte])] = Seq(
      ("bmp24", "image", id => M.makeBmp(64, 64, id)),
      ("bmp8_rle", "image", id => M.makeBmpX(64, 64, id, bpp = 8, rle = true)),
      ("png_rgb", "image", id => M.makePng(48, 48, id)),
      ("gif", "image", id => M.makeGif(48, 48, id)),
      ("jpeg_gray", "image", id => M.makeJpeg(64, 64, id, gray = true)),
      ("tiff_lzw", "image", id => M.makeTiff(48, 48, id, compression = 5)),
      ("tiff_16bit_tiled", "image", id => M.makeTiff(48, 48, id, bits = 16, tileSize = 16)),
      ("tiff_jpeg_strips", "image", id => M.makeTiffJpeg(64, 64, 16, id, sharedTables = true)),
      ("ico", "image", id => M.makeIco(32, 32, id, withSmaller = true)),
      ("pnm_p6", "image", id => M.makePnm(48, 48, id)),
      ("qoi", "image", id => M.makeQoi(48, 48, id)),
      ("wav_pcm16", "audio", id => M.makeWav(2000, 1, 8000, id)),
      ("wav_float32_ext", "audio", id => M.toExtensibleWav(M.makeWavFloat(2000, 1, 8000, id))),
      ("wav_mulaw", "audio", id => M.makeWavG711(2000, 8000, id, aLaw = false)),
      ("wav_ima_adpcm", "audio", id => M.makeWavImaAdpcm(8, 260, 8000, id)),
      ("flac", "audio", id => graft.multimodal.Flac.make(1920, 1, 8000, id)),
      ("ogg_flac", "audio", id => M.makeOggFlac(1920, 1, 8000, id)),
      ("au_float64", "audio", id => M.makeAu(2000, 8000, id, muLaw = false, enc = 7)),
      ("aiff_sowt", "audio", id => M.makeAiff(2000, 1, 8000, id, aifc = "sowt")),
      ("gif_anim", "video", id => M.makeGifAnimated(32, 32, id, 4)),
      ("avi_mjpeg", "video", id => M.makeAviMjpeg(64, 64, id, 4)),
      ("mp4_mjpeg", "video", id => M.makeMp4Mjpeg(64, 64, id, 4)),
      ("apng", "video", id => M.makeApng(32, 32, id, 4)))
    def timed(tag: String, expect: Long)(f: => Long): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      val rows = f
      val secs = (System.nanoTime() - t0) / 1e9
      val cover = if (expect > 0 && rows < expect) s"  COVERAGE SHORTFALL ($rows < $expect)" else ""
      println(f"[probe] $tag%-18s ${secs}%7.2fs  ${expect / secs}%9.0f docs/s  rows=$rows$cover")
    }
    val tmp = java.nio.file.Files.createTempDirectory("decode_breadth_probe")
    // per-class DISJOINT id ranges, so the mixed pass's per-doc counts
    // never collapse across classes
    val paths = classes.zipWithIndex.map { case ((name, tier, mk), ci) =>
      val p = tmp.resolve(name).toString
      val base = ci * 10000000L
      val docs = spark.range(n.toLong).repartition(parts).as[Long]
        .map(id => (base + id, mk(id))).toDF("doc_id", "payload")
      NioLocalFileSystem.write(docs).mode("overwrite").parquet(p)
      (name, tier, p)
    }
    def hashPass(tier: String, df: org.apache.spark.sql.DataFrame): Long = tier match {
      case "image" => M.imageAHashes(spark, df).count()
      case "audio" => M.audioFingerprints(spark, df).count()
      case _ => M.videoFrameHashes(spark, df)
        .select(col("doc_id")).distinct().count()
    }
    // warmup each tier once (JIT + parquet footer cache)
    paths.take(1).foreach { case (_, t, p) =>
      hashPass(t, Tables.parquet(spark, p).limit(1000))
    }
    paths.foreach { case (name, tier, p) =>
      val docs = Tables.parquet(spark, p)
      hashPass(tier, docs.limit(500)) // per-class JIT warmup
      timed(name, n.toLong)(hashPass(tier, docs))
    }
    // the production shape: every tier over the full mixed union.
    // Expected rows = 26n, not 23n: an APNG and an animated GIF are
    // BOTH a still (their first frame/default image, the containers'
    // backwards-compatibility design) and a clip, and a single-frame
    // GIF is both an image and a one-frame clip — each counts in two
    // tiers, by contract.
    val mixed = paths.map(p => Tables.parquet(spark, p._3)).reduce(_ unionAll _)
    timed("mixed_all_tiers", (classes.length.toLong + 3) * n) {
      val img = M.imageAHashes(spark, mixed).select(col("doc_id"))
      val aud = M.audioFingerprints(spark, mixed).select(col("doc_id"))
      val vid = M.videoFrameHashes(spark, mixed).select(col("doc_id")).distinct()
      img.unionAll(aud).unionAll(vid).count()
    }
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    spark.stop()
  }
}
