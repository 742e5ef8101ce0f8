package graft.tools

import org.apache.spark.sql.functions._

/** Long-stream receipt for the r16 handle hoist: per-micro-batch wall of
  * the embed near-dup gate over 24 batches, handle form (resolve the
  * index once, probe the cached handle) vs path form (the r15 shape:
  * every batch re-pays meta collect + index listing + cap aggregation +
  * corpus count). The per-batch work itself is constant (same batch
  * size, static index), so FLAT walls are the expected signature — the
  * path form's extra constant is pure invariant overhead × stream
  * length. Pairs must agree batch-for-batch.
  *
  * usage: StreamGateProbe [sfDir] [nBatches]
  */
object StreamGateProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.drop(1).headOption.map(_.toInt).getOrElse(24)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32").toInt)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val seen = emb.filter(col("vec_id") % 2 === 1)
    val idx = java.nio.file.Files.createTempDirectory("gate_probe")
      .resolve("idx").toString
    graft.similarity.Ann.writeEmbedNearDupIndex(seen, idx, nBits = 8)
    // fixed-size batches sliced from the even side — constant per-batch work
    val evens = emb.filter(col("vec_id") % 2 === 0).localCheckpoint()
    def batch(i: Int) = evens.filter(pmod(col("vec_id") / 2, lit(nBatches)) === i)

    def mean(xs: Seq[Double]) = xs.sum / xs.size
    def drive(tag: String, probe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[Long] = {
      val counts = new scala.collection.mutable.ArrayBuffer[Long]
      val walls = (0 until nBatches).map { i =>
        System.gc()
        val t0 = System.nanoTime()
        counts += probe(batch(i)).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $tag%-12s first8=${mean(walls.take(8))}%6.2fs/batch " +
        f"last8=${mean(walls.takeRight(8))}%6.2fs/batch total=${walls.sum}%7.1fs")
      counts.toSeq
    }

    val handle = graft.similarity.Ann.openEmbedNearDupIndex(spark, idx)
    val viaHandle = drive("handle", b =>
      graft.similarity.Ann.embeddingNearDupsAgainstHandle(b, handle, threshold = 0.3))
    val viaPath = drive("path (r15)", b =>
      graft.similarity.Ann.embeddingNearDupsAgainstIndex(b, idx, threshold = 0.3))
    require(viaHandle == viaPath,
      s"per-batch pair counts must agree: $viaHandle vs $viaPath")
    println(s"[probe] pair counts identical across all $nBatches batches")
    spark.stop()
  }
}
