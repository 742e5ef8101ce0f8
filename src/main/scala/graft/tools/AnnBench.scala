package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables
import graft.similarity.Ann

/** Parameter-sweep bench for corpus-vs-corpus LSH retrieval
  * ([[Ann.lshShuffledTopK]]): times the full retrieval at the given
  * (nBits, nTables, k) and estimates recall against brute force on a
  * deterministic query sample.
  *
  * The knob this exists to demonstrate: bucket occupancy is |C| / 2^nBits,
  * and candidate volume ≈ nTables × (nBits+1) × |Q| × occupancy — so nBits
  * must GROW with the corpus (≈ log2(|C| / targetOccupancy)) to keep
  * retrieval linear. Fixed nBits at 10× corpus is the measured hotspot in
  * BASELINE.md's soak table.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.AnnBench /tmp/sf1_soak 12 4 5 500"
  */
object AnnBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnBench <sfDir> [nBits] [nTables] [k] [recallSample]")
    val dir = args(0)
    val nBits = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val nTables = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    val k = args.drop(3).headOption.map(_.toInt).getOrElse(5)
    val sampleN = args.drop(4).headOption.map(_.toInt).getOrElse(500)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.local(cpus, cpus)

    val emb = Tables.parquet(spark, s"$dir/embeddings.parquet")
    val n = emb.count()

    val t0 = System.nanoTime()
    Ann.lshShuffledTopK(emb, emb, k = k, nBits = nBits, nTables = nTables)
      .write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9

    // deterministic query sample: every (n / sampleN)-th id — per-query
    // candidate generation is independent, so sampled recall ≈ full recall
    val step = math.max(1L, n / sampleN)
    val qs = emb.filter(pmod(col("vec_id"), lit(step)) === 0)
    val truth = Ann.bruteForceTopK(emb, qs, k = k).select("qid", "cid")
    val got = Ann.lshShuffledTopK(emb, qs, k = k, nBits = nBits, nTables = nTables)
      .select("qid", "cid")
    val hit = truth.join(got, Seq("qid", "cid")).count()
    val denom = truth.count()
    val recall = if (denom == 0) 0.0 else hit.toDouble / denom

    println(s"""{"tool":"AnnBench","corpus":$n,"nBits":$nBits,"nTables":$nTables,"k":$k,"secs":$secs,"recall":$recall,"recallSample":$denom}""")
    spark.stop()
  }
}
