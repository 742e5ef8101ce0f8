package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Soak probe for [[graft.dedup.DupClusters.connectedComponentsStar]]
  * where BOTH the node count and the component diameter grow with the
  * fixture — the O(log n)-rounds claim needs a receipt on a graph the
  * gate fixtures can't produce. The graph is built from the soak
  * documents table's id space (ScaleFixture: id = replica·10¹² + base):
  *
  *   - group edges: id — (id − id mod 10) inside every replica
  *     (500 ten-node stars per 5k base ids), and
  *   - chain edges: group leader (base b, replica r) — leader
  *     (b, r+1) for b ≡ 0 (mod 10),
  *
  * so a 1000-replica fixture yields components of 10,000 nodes with
  * diameter ≳ 1000 — the long-chain shape that kills label propagation
  * and is exactly what star contraction's logarithmic doubling is for.
  * Ground truth is closed-form: one component per base group, minimum
  * id = its replica-0 leader — the probe checks component count, row
  * count and min-id identity, then prints rounds + wall.
  *
  * usage: StarCcProbe <sfDir>
  */
object StarCcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    val stride = 1000000000000L
    val ids = Tables.parquet(spark, s"$dir/documents.parquet")
      .select(col("doc_id").as("id")).localCheckpoint()
    val nNodes = ids.count()
    val groupEdges = ids.filter(pmod(col("id"), lit(10)) =!= 0)
      .select(col("id").as("id_a"),
        (col("id") - pmod(col("id"), lit(10))).as("id_b"))
    val leaders = ids.filter(pmod(col("id"), lit(10)) === 0)
    val chainEdges = leaders.select(col("id").as("id_a"),
        (col("id") + stride).as("id_b"))
      .join(leaders.select(col("id").as("id_b")), "id_b") // next replica exists
      .select("id_a", "id_b")
    val pairs = groupEdges.union(chainEdges).localCheckpoint()
    val nEdges = pairs.count()
    println(s"[probe] graph: $nNodes nodes, $nEdges edges")
    val t0 = System.nanoTime()
    val cc = graft.dedup.DupClusters.connectedComponentsStar(pairs)
      .localCheckpoint()
    val rows = cc.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val comps = cc.select("cluster_id").distinct().count()
    // closed-form truth: every cluster minimum is a replica-0 leader
    val badMin = cc.select("cluster_id").distinct()
      .filter(col("cluster_id") >= stride ||
        pmod(col("cluster_id"), lit(10)) =!= 0).count()
    println(f"[probe] star_cc wall=$wall%7.2fs rounds=${graft.dedup.DupClusters.lastStarRounds} rows=$rows comps=$comps bad_minima=$badMin")
    spark.stop()
  }
}
