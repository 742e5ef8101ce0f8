package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Soak probe for [[graft.dedup.SetSimJoin]] where the PAIR GRAPH grows,
  * not just the scan: the shipped q_setsim_join pins doc_id < 500, which
  * on the replica-strided ScaleFixture selects a constant 500 docs under
  * a growing corpus (the q_pagerank-style scan-chain read). This probe
  * instead takes base-id < 500 across the first `reps` replicas
  * (ScaleFixture shifts ids by replica x 10^12), so with verbatim
  * text duplication every base pair multiplies by reps² — the
  * fixture-quadratic-output regime documented for q_fuzzy_link /
  * q_range_join. Reports pair count + wall seconds: the claim to check
  * is output-linearity, not input-linearity.
  *
  * usage: SetSimProbe <sfDir> [reps] [tNum] [tDen]
  */
object SetSimProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val tNum = args.drop(2).headOption.map(_.toInt).getOrElse(9)
    val tDen = args.drop(3).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    val stride = 1000000000000L
    val docs = Tables.parquet(spark, s"$dir/documents.parquet")
      .filter(col("doc_id") % stride < 500 && col("doc_id") < stride * reps)
    val t0 = System.nanoTime()
    val n = graft.dedup.SetSimJoin
      .jaccardJoin(docs, "doc_id", "text", tNum, tDen).count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"probe":"setsim","reps":$reps,"t":"$tNum/$tDen","pairs":$n,"sec":$secs%.2f}""")
    spark.stop()
  }
}
