package graft.tools

import org.apache.spark.sql.functions._

import graft.similarity.Ivf

/** Steady-state-vs-rebuild soak for the persistent IVF index
  * ([[graft.similarity.Ivf.writeIvfIndex]] family). Three readings on
  * the same corpus/queries:
  *
  *   1. rebuild   — centroids + buildIndex + topK from raw (what every
  *                  query pays without an index);
  *   2. write     — writeIvfIndex (the one-time / per-rebuild cost);
  *   3. steady    — topKAgainstIndex on the already-stored index (what
  *                  every query pays WITH the index).
  *
  * The 100 TB claim being checked: steady ≪ rebuild, because the probe
  * touches ~nProbe/nLists of the corpus off partition-pruned parquet
  * and does zero clustering/assignment work.
  *
  * usage: IvfIndexProbe <sfDir> [nLists] [nProbe] [k] [nQueries]
  */
object IvfIndexProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nLists = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val nProbe = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    val k = args.drop(3).headOption.map(_.toInt).getOrElse(10)
    val nQ = args.drop(4).headOption.map(_.toInt).getOrElse(5)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < nQ)
    val idxPath = java.nio.file.Files.createTempDirectory("ivf_probe")
      .resolve("idx").toString

    def timed(label: String)(body: => Long): Double = {
      val t0 = System.nanoTime()
      val n = body
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $label%-8s wall=$t%7.2fs rows=$n")
      t
    }

    // warmup scan (footer cache, codegen)
    emb.count()
    timed("rebuild") {
      val cents = Ivf.centroids(emb, nLists)
      Ivf.topK(Ivf.buildIndex(emb, cents), queries, cents, k, nProbe).count()
    }
    timed("write") { Ivf.writeIvfIndex(emb, nLists, idxPath); 0L }
    // two steady readings: cold (fresh plans) then warm
    timed("steady") { Ivf.topKAgainstIndex(queries, idxPath, k, nProbe).count() }
    timed("steady2") { Ivf.topKAgainstIndex(queries, idxPath, k, nProbe).count() }
    spark.stop()
  }
}
