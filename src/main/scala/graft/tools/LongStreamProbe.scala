package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Long-stream receipt for the label-store compaction cadence
  * ([[graft.streaming.ClusterIngest]] `compactEvery`): without folds,
  * every micro-batch's [[graft.streaming.ClusterIngest.readLabels]]
  * re-reads one segment PER PRIOR BATCH — per-batch wall grows linearly
  * in stream age, quadratic total. With the cadence, the segment list
  * stays bounded by the fold interval. The probe drives the same
  * `writeBatch` the streaming sink calls, 64 micro-batches of pair
  * edges, with cadence 0 (off) vs 8, and reports mean per-batch wall
  * over the first and last 16 batches — flat means the two means agree;
  * the labels must be identical either way (the fold is semantic
  * latest-per-id; split-invariance spec pins the law).
  *
  * usage: LongStreamProbe [nBatches] [edgesPerBatch]
  */
object LongStreamProbe {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(64)
    val perBatch = args.drop(1).headOption.map(_.toInt).getOrElse(2000)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt)
    val tmp = java.nio.file.Files.createTempDirectory("long_stream_probe")

    // batch b: edges (b*P + i) -- (b*P + i + 1) for even i, plus one
    // bridge to the previous batch — every batch merges into history,
    // so the delta write path is always exercised
    def batchEdges(b: Int) =
      spark.range(perBatch.toLong).select(
          (lit(b.toLong * perBatch) + col("id")).as("id_a"),
          (lit(b.toLong * perBatch) + col("id") + 1).as("id_b"))
        .filter(col("id_a") % 2 === 0)
        .union(if (b == 0) spark.range(0).select(col("id").as("id_a"), col("id").as("id_b"))
               else spark.range(1).select(lit(b.toLong * perBatch - 2).as("id_a"),
                 lit(b.toLong * perBatch).as("id_b")))

    def drive(cadence: Int): (String, Seq[Double]) = {
      val store = tmp.resolve(s"labels_c$cadence").toString
      val walls = (0 until nBatches).map { b =>
        val t0 = System.nanoTime()
        graft.streaming.ClusterIngest.writeBatch(batchEdges(b), b.toLong, store)
        if (cadence > 0 && b > 0 && b % cadence == 0)
          graft.streaming.ClusterIngest.compactLabels(spark, store, upTo = b.toLong)
        (System.nanoTime() - t0) / 1e9
      }
      (store, walls)
    }

    val (s0, w0) = drive(0)
    val (s8, w8) = drive(8)
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    def report(tag: String, w: Seq[Double]): Unit =
      println(f"[probe] $tag%-14s first16=${mean(w.take(16))}%6.3fs/batch " +
        f"last16=${mean(w.takeRight(16))}%6.3fs/batch total=${w.sum}%7.1fs")
    report("cadence=off", w0)
    report("cadence=8", w8)

    // identical labelings — the cadence is pure maintenance
    val a = graft.streaming.ClusterIngest.readLabels(spark, s0)
    val b = graft.streaming.ClusterIngest.readLabels(spark, s8)
    val diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    require(diff == 0, s"labelings must match, $diff rows differ")
    println(s"[probe] labels identical (${a.count()} ids); " +
      s"segments: off=${Tables.parquet(spark, s0).select("batch_id").distinct().count()} " +
      s"cadence8=${Tables.parquet(spark, s8).select("batch_id").distinct().count()}")

    // the mechanism, isolated: readLabels wall as a function of segment
    // count — this is the term that grows one segment per batch without
    // the cadence (per-batch job overhead hides it in the drive above
    // until stream age is large; the store-read cost itself is linear in
    // segments, constant after a fold)
    for (segStore <- Seq(s0, s8); pass <- 1 to 2) {
      System.gc()
      val nSegs = Tables.parquet(spark, segStore).select("batch_id").distinct().count()
      val t0 = System.nanoTime()
      graft.streaming.ClusterIngest.readLabels(spark, segStore)
        .write.format("noop").mode("overwrite").save()
      println(f"[probe] readLabels segs=$nSegs%3d pass=$pass " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2fs")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    spark.stop()
  }
}
