package graft.tools

import org.apache.spark.sql.functions._

import graft.similarity.Pca

/** Steady-state-vs-rebuild soak for the incremental-PCA moment segments
  * ([[graft.similarity.Pca.writeMomentSegments]] family). Readings on
  * one corpus:
  *
  *   1. rebuild — topComponentFx over the whole corpus (what a refresh
  *                pays without the segments: means pass + covariance
  *                pass over ALL rows);
  *   2. seed    — writeMomentSegments over the historical 99% (the
  *                one-time backfill cost);
  *   3. append  — writeMomentSegments over the NEW 1% slice plus
  *                componentFromMomentSegments (what a daily refresh
  *                pays WITH the segments: one pass over the new rows +
  *                a model-sized segment read + driver iteration);
  *   4. read    — componentFromMomentSegments alone (the pure
  *                "retrain from stored history" cost).
  *
  * The 100 TB claim being checked: append ≪ rebuild and scales with the
  * SLICE, not the corpus; and the segment-merged component equals the
  * batch component exactly (asserted, not assumed).
  *
  * usage: PcaIncrementalProbe <sfDir> [dim] [slicePct]
  */
object PcaIncrementalProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dim = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    val slicePct = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val isNew = pmod(col("vec_id"), lit(100L)) < slicePct
    val segPath = java.nio.file.Files.createTempDirectory("pca_probe")
      .resolve("seg").toString

    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $label%-8s wall=${(System.nanoTime() - t0) / 1e9}%7.2fs")
      r
    }

    emb.count() // warmup scan (footer cache, codegen)
    val batch = timed("rebuild") { Pca.topComponentFx(emb, dim) }
    timed("seed") {
      Pca.writeMomentSegments(emb.filter(!isNew), dim, segPath, batchId = Some(0L))
    }
    val merged = timed("append") {
      Pca.writeMomentSegments(emb.filter(isNew), dim, segPath, batchId = Some(1L))
      Pca.componentFromMomentSegments(spark, segPath, dim)
    }
    val readOnly = timed("read") { Pca.componentFromMomentSegments(spark, segPath, dim) }
    require(merged == batch, "segment-merged component != batch component")
    require(readOnly == batch, "read-only component != batch component")
    println("[probe] components identical: OK")
    spark.stop()
  }
}
