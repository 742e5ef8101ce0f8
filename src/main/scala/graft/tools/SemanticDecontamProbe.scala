package graft.tools

import org.apache.spark.sql.functions._

/** Soak probe for semantic decontamination at the production shape: a
  * BENCHMARK-sized bench (10³ vectors — the broadcast contract) against
  * the full 100× training corpus.
  *
  * Readings:
  *  - exact flag  — |train|×|bench| dots folded map-side to evidence rows
  *  - exact remove — broadcast nested-loop ANTI join (per-row
  *    short-circuit; the number a trainset build pays)
  *  - indexed flag — partition-pruned probe of the stored bench embed
  *    index (the corpus-sized-bench path, measured here on the small
  *    bench for the apples-to-apples overhead picture)
  *
  * usage: SemanticDecontamProbe <sfDir>
  */
object SemanticDecontamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak100d10")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    def timed(tag: String)(f: => Long): Unit = {
      System.gc()
      val t0 = System.nanoTime(); val n = f
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs rows=$n")
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // benchmark-sized bench: ~1000 vectors; train = everything else
    val bench = emb.filter(col("vec_id") % 199 === 1).localCheckpoint()
    val train = emb.filter(col("vec_id") % 199 =!= 1)
    println(s"[probe] train=${train.count()} bench=${bench.count()}")

    val tmp = java.nio.file.Files.createTempDirectory("semdecon_probe")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit))
    val idx = tmp.resolve("idx").toString
    timed("bench index build (once)") {
      graft.similarity.Ann.writeEmbedNearDupIndex(bench, idx, nBits = 8); 0L
    }

    def flagExact(): Long =
      graft.similarity.SemanticDecontam
        .flagSemanticContaminated(train, bench, tau = 0.3).count()
    def removeExact(): Long =
      graft.similarity.SemanticDecontam
        .removeSemanticContaminated(train, bench, tau = 0.3).count()
    def flagIdx(): Long =
      graft.similarity.SemanticDecontam
        .flagSemanticContaminatedAgainstIndex(train, idx, tau = 0.3).count()

    // no-hit worst case: a threshold nothing reaches means the anti join
    // can never short-circuit — every train row scans the full bench
    // (what a CLEAN corpus pays for its remove pass)
    def removeNoHit(): Long =
      graft.similarity.SemanticDecontam
        .removeSemanticContaminated(train, bench, tau = 1.1).count()

    flagExact(); removeExact(); flagIdx(); removeNoHit() // warm
    (1 to 3).foreach(i => timed(s"exact flag $i")(flagExact()))
    (1 to 3).foreach(i => timed(s"exact remove (BNLJ anti) $i")(removeExact()))
    (1 to 3).foreach(i => timed(s"remove, zero hits (clean) $i")(removeNoHit()))
    (1 to 3).foreach(i => timed(s"indexed flag $i")(flagIdx()))
    spark.stop()
  }
}
