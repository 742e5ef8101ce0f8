package graft.tools

import org.apache.spark.sql.functions._

/** Steady-state receipts for the persistent BM25 and IVF-PQ indexes —
  * the complement of the `q_*_indexed` gate rows, which deliberately
  * time the REBUILD (index write + probe in one measured query). Here
  * the index is built once untimed and the probe is timed alone: the
  * cost every query pays in steady state, vs the from-raw form that
  * re-derives everything per query batch.
  *
  * usage: IndexSteadyProbe <sfDir>
  */
object IndexSteadyProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")

    def timed(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[probe] $label%-22s wall=${(System.nanoTime() - t0) / 1e9}%7.2fs rows=$n")
    }

    // BM25
    val bmIdx = java.nio.file.Files.createTempDirectory("bm25_steady").resolve("idx").toString
    graft.text.Bm25.writeBm25Index(docs, bmIdx, nBuckets = 16)
    val qdocs = docs.filter(col("doc_id") < 3).localCheckpoint()
    timed("bm25_from_raw") { graft.text.Bm25.topK(docs, qdocs, k = 10).count() }
    timed("bm25_steady_cold") {
      graft.text.Bm25.topKAgainstIndex(qdocs, bmIdx, k = 10, nBuckets = 16).count() }
    timed("bm25_steady_warm") {
      graft.text.Bm25.topKAgainstIndex(qdocs, bmIdx, k = 10, nBuckets = 16).count() }

    // IVF-PQ
    val pqIdx = java.nio.file.Files.createTempDirectory("ivfpq_steady").resolve("idx").toString
    graft.similarity.Pq.writeIvfPqIndex(emb, nLists = 16, m = 4, ksub = 16, pqIdx)
    val qvecs = emb.filter(col("vec_id") < 5).localCheckpoint()
    timed("ivfpq_from_raw") {
      val cents = graft.similarity.Ivf.centroids(emb, nLists = 16)
      val cb = graft.similarity.Pq.sampledCodebooks(emb, m = 4, ksub = 16)
      graft.similarity.Pq.ivfAdcTopK(
        graft.similarity.Ivf.buildIndex(emb, cents), qvecs, cents, cb,
        k = 10, nProbe = 4).count()
    }
    timed("ivfpq_steady_cold") {
      graft.similarity.Pq.ivfAdcTopKAgainstIndex(qvecs, pqIdx, k = 10, nProbe = 4).count() }
    timed("ivfpq_steady_warm") {
      graft.similarity.Pq.ivfAdcTopKAgainstIndex(qvecs, pqIdx, k = 10, nProbe = 4).count() }
    spark.stop()
  }
}
