package graft.tools

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.ops.Tables

/** Soak probe for the perceptual-hash family at 100× doc count
  * (500 k payloads): media decode + hash is a SCAN-STAGE map — no
  * shuffle, no state — so the claim to verify is plain linear
  * throughput (docs/s) for each modality, with realistic decode work
  * (LZW streams for GIF, PCM folds for WAV, full pixel grids for BMP).
  *
  * Second reading: the aHash-vs-pHash ROBUSTNESS A/B the pHash row's
  * "upgrade" claim rests on — ±1 uniform pixel noise (the re-encode
  * perturbation scale) applied to 200 images, bit flips counted per
  * hash. Fewer flipped bits at the same radius = more pairs survive a
  * fixed Hamming threshold.
  *
  * usage: MediaHashProbe <sfDir>
  */
object MediaHashProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak100d10")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    import spark.implicits._
    def timed(tag: String, n: Long)(f: => Long): Unit = {
      System.gc()
      val t0 = System.nanoTime(); val rows = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $tag%-26s ${s}%7.2fs rows=$rows docs/s=${(n / s).toLong}")
    }
    val ids = Tables.parquet(spark, s"$dir/documents.parquet").select("doc_id")
    val n = ids.count()
    println(s"[probe] docs=$n")

    // payload generation cost measured separately so hash rates are honest
    def bmp = ids.as[Long].map(id => (id, Multimodal.makeBmp(64, 64, id % 977)))
      .toDF("doc_id", "payload")
    def gif = ids.as[Long].map(id => (id, Multimodal.makeGifAnimated(16, 16, id % 977, 3)))
      .toDF("doc_id", "payload")
    def wav = ids.as[Long].map(id => (id, Multimodal.makeWav(192, 1, 8000, id % 977)))
      .toDF("doc_id", "payload")
    timed("payload gen (bmp, noop)", n) { bmp.write.format("noop").mode("overwrite").save(); n }
    timed("image aHash 64x64 bmp", n)(Multimodal.imageAHashes(spark, bmp).count())
    timed("image pHash 64x64 bmp", n)(Multimodal.imagePHashes(spark, bmp).count())
    timed("video 3-frame gif", n)(Multimodal.videoFrameHashes(spark, gif).count())
    timed("audio spectral wav", n)(Multimodal.audioSpectralFingerprints(spark, wav).count())
    timed("audio energy-delta wav", n)(Multimodal.audioFingerprints(spark, wav).count())

    // robustness A/B: ±1 uniform pixel noise on 200 images
    val rnd = new scala.util.Random(11)
    var aFlips = 0L; var pFlips = 0L
    var i = 0
    while (i < 200) {
      val clean = Multimodal.makeBmp(64, 64, i.toLong)
      val noisy = clean.clone()
      var p = 54
      while (p < noisy.length) {
        val v = (noisy(p) & 0xff) + (rnd.nextInt(3) - 1)
        noisy(p) = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        p += 1
      }
      aFlips += java.lang.Long.bitCount(
        Multimodal.imageAHash(clean).get ^ Multimodal.imageAHash(noisy).get)
      pFlips += java.lang.Long.bitCount(
        Multimodal.imagePHash(clean).get ^ Multimodal.imagePHash(noisy).get)
      i += 1
    }
    println(f"[probe] noise A/B (200 imgs)    aHash flips/img=${aFlips / 200.0}%.2f pHash flips/img=${pFlips / 200.0}%.2f")

    // second perturbation: LOCAL edit (one 8x8 block overwritten) and
    // GLOBAL gradient (brightness ramp +0..+24 across columns — the
    // lighting/vignette class of re-render change)
    var aEdit = 0L; var pEdit = 0L; var aGrad = 0L; var pGrad = 0L
    i = 0
    while (i < 200) {
      val clean = Multimodal.makeBmp(64, 64, i.toLong)
      val edit = clean.clone()
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 24) { edit(54 + y * 192 + x) = 255.toByte; x += 1 }
        y += 1
      }
      val grad = clean.clone()
      var p = 54
      while (p < grad.length) {
        val colx = ((p - 54) % 192) / 3
        val v = (grad(p) & 0xff) + colx * 24 / 64
        grad(p) = (if (v > 255) 255 else v).toByte
        p += 1
      }
      aEdit += java.lang.Long.bitCount(
        Multimodal.imageAHash(clean).get ^ Multimodal.imageAHash(edit).get)
      pEdit += java.lang.Long.bitCount(
        Multimodal.imagePHash(clean).get ^ Multimodal.imagePHash(edit).get)
      aGrad += java.lang.Long.bitCount(
        Multimodal.imageAHash(clean).get ^ Multimodal.imageAHash(grad).get)
      pGrad += java.lang.Long.bitCount(
        Multimodal.imagePHash(clean).get ^ Multimodal.imagePHash(grad).get)
      i += 1
    }
    println(f"[probe] block-edit A/B          aHash flips/img=${aEdit / 200.0}%.2f pHash flips/img=${pEdit / 200.0}%.2f")
    println(f"[probe] gradient A/B            aHash flips/img=${aGrad / 200.0}%.2f pHash flips/img=${pGrad / 200.0}%.2f")
    spark.stop()
  }
}
