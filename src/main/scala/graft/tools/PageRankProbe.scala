package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Soak probe for [[graft.dedup.PageRank]] where the GRAPH grows, not
  * just the scan under it: the shipped q_pagerank pins doc_id < 1000,
  * which on the replica-strided ScaleFixture selects a constant graph
  * under a growing corpus — its soak rows measure the scan+simhash
  * chain, not rank iteration. This probe takes base-id < `base` across
  * the first `reps` replicas (ScaleFixture shifts ids by replica ×
  * 10¹²); with dup-depth-10 text every replica group of 10 forms its
  * own near-dup clique, so nodes AND edges grow ~linearly with reps.
  * Graph build and the 3 rank iterations are timed separately: the
  * scale claim to check is that PER-ITERATION cost tracks the edge
  * list (each round is one join + one aggregation on edges).
  *
  * usage: PageRankProbe <sfDir> [reps] [base]
  */
object PageRankProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val base = args.drop(2).headOption.map(_.toInt).getOrElse(500)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    val stride = 1000000000000L
    val docs = Tables.parquet(spark, s"$dir/documents.parquet")
      .filter(col("doc_id") % stride < base && col("doc_id") < stride * reps)
    val t0 = System.nanoTime()
    val sims = graft.dedup.NearDup.simHash(docs, "doc_id", "text")
    val pairs = graft.dedup.NearDup.simHashNearDups(sims, maxHamming = 10)
      .localCheckpoint() // graph-build / iteration timing boundary
    val nEdges = pairs.count()
    val tGraph = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val ranked = graft.dedup.PageRank.rankMicro(pairs, "id_a", "id_b", iters = 3)
    val nNodes = ranked.count()
    val tRank = (System.nanoTime() - t1) / 1e9
    println(f"""{"probe":"pagerank","reps":$reps,"base":$base,"edges":$nEdges,"nodes":$nNodes,"graph_sec":$tGraph%.2f,"rank3_sec":$tRank%.2f}""")
    spark.stop()
  }
}
