package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Tables

/** Soak probe for [[graft.dedup.DupClusters.mergeComponents]] — the
  * incremental-maintenance claim is "per-batch cost scales with the
  * BATCH (quotient graph ≤ 2·|batch edges| nodes), plus one
  * history-sized equi-join", and the honest receipt compares, on the
  * SAME [[StarCcProbe]] graph (10-node stars chained across replicas —
  * the long-diameter shape):
  *
  *   1. one-shot star CC over ALL edges (what a non-incremental
  *      pipeline re-pays every batch),
  *   2. star CC over the history slice (the labeling a steady-state
  *      pipeline maintains — built once, amortized), and
  *   3. mergeComponents(historyLabels, batchEdges) for a small batch —
  *      the steady-state per-batch cost under measurement.
  *
  * The batch is the LAST chain link per base group (the edges that
  * bridge the final replica's stars into the long chain) plus that
  * replica's group edges — so the merge is not a no-op: it relabels an
  * entire replica's worth of nodes through the quotient. Ground truth
  * after the merge is the same closed form as StarCcProbe (one
  * component per base group, min id = replica-0 leader); the probe
  * checks the folded labeling against the one-shot run row-for-row.
  *
  * usage: IncCcProbe <sfDir>
  */
object IncCcProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    val stride = 1000000000000L
    val ids = Tables.parquet(spark, s"$dir/documents.parquet")
      .select(col("doc_id").as("id")).localCheckpoint()
    val maxReplica = ids.agg(max(floor(col("id") / stride))).collect()(0).getLong(0)
    val groupEdges = ids.filter(pmod(col("id"), lit(10)) =!= 0)
      .select(col("id").as("id_a"),
        (col("id") - pmod(col("id"), lit(10))).as("id_b"))
    val leaders = ids.filter(pmod(col("id"), lit(10)) === 0)
    val chainEdges = leaders.select(col("id").as("id_a"),
        (col("id") + stride).as("id_b"))
      .join(leaders.select(col("id").as("id_b")), "id_b")
      .select("id_a", "id_b")
    val all = groupEdges.union(chainEdges).localCheckpoint()
    // batch = everything touching the LAST replica; history = the rest
    val isBatch = (col("id_a") >= maxReplica * stride) ||
      (col("id_b") >= maxReplica * stride)
    val history = all.filter(!isBatch).localCheckpoint()
    val batch = all.filter(isBatch).localCheckpoint()
    println(s"[probe] edges: total=${all.count()} history=${history.count()} batch=${batch.count()}")

    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%7.2fs"); r
    }
    System.gc()
    val oneShot = timed("one_shot_all") {
      val cc = graft.dedup.DupClusters.connectedComponentsStar(all).localCheckpoint()
      cc.count(); cc
    }
    System.gc()
    val historyLabels = timed("history_build") {
      val cc = graft.dedup.DupClusters.connectedComponentsStar(history).localCheckpoint()
      cc.count(); cc
    }
    System.gc()
    val merged = timed("merge_batch") {
      val m = graft.dedup.DupClusters.mergeComponents(historyLabels, batch)
        .localCheckpoint()
      m.count(); m
    }
    val diff = merged.except(oneShot).limit(1).count() +
      oneShot.except(merged).limit(1).count()
    println(s"[probe] fold==one_shot: ${diff == 0} " +
      s"(rows merged=${merged.count()} oneShot=${oneShot.count()})")
    spark.stop()
  }
}
