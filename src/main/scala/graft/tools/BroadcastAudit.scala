package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

import graft.ops.Tables

/** Static-plan audit for the round-15 broadcast-misestimate hazard:
  * compressed-text parquet scans + explodes make corpus-sized join
  * inputs ESTIMATE below the 10 MB broadcast threshold, and a
  * statically-planned BroadcastHashJoin deep in a no-shuffle pipeline
  * cannot be rescued by AQE (measured: an 8+ GiB band-table broadcast
  * off a 4 MB estimate — BASELINE r15). This tool builds the
  * corpus-vs-corpus operators at a soak-fixture shape, walks each
  * STATIC plan, and flags every BroadcastExchange whose subtree
  * contains a Generate (explode) or a documents/embeddings file scan —
  * the signature of a corpus-derived build side. Model-sized
  * broadcasts (centroids, vocabularies, phrase tables, stats rows) are
  * expected and printed as `ok`; corpus-derived ones print `SUSPECT`
  * and want a [[graft.dedup.NearDup.mergeIfBig]]-style guard.
  *
  * Plans are EXPLAINED, not executed — the audit is cheap at any SF.
  *
  * usage: BroadcastAudit <sfDir> [split]
  */
object BroadcastAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val split = args.drop(1).headOption.map(_.toLong).getOrElse(99000000004000L)
    val spark = graft.GraftSession.local(8, 32)
    spark.sparkContext.setLogLevel("ERROR")
    // the audit targets STATIC join selection (the decisions AQE can
    // never revisit) — turn AQE off so the plan tree is walkable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val docs = Tables.parquet(spark, s"$dir/documents.parquet")
    val emb = Tables.parquet(spark, s"$dir/embeddings.parquet")
    val train = docs.filter(col("doc_id") < split)
    val bench = docs.filter(col("doc_id") >= split)

    def audit(name: String)(mk: => DataFrame): Unit = {
      val plan =
        try mk.queryExecution.executedPlan
        catch { case e: Throwable =>
          println(s"[audit] $name  BUILD-ERROR ${e.getClass.getSimpleName}: ${e.getMessage.take(120)}")
          return
        }
      var n = 0
      def corpusDerived(p: SparkPlan): Boolean = {
        val s = p.toString
        s.contains("Generate ") ||
          s.contains("documents.parquet") || s.contains("embeddings.parquet")
      }
      plan.foreach {
        case b: BroadcastExchangeExec =>
          n += 1
          val bad = corpusDerived(b.child)
          val head = b.child.toString.linesIterator.take(1).mkString.take(100)
          println(s"[audit] $name  ${if (bad) "SUSPECT" else "ok     "} build=$head")
        case _ => ()
      }
      if (n == 0) println(s"[audit] $name  no-broadcasts")
    }

    audit("flag_contaminated") {
      graft.text.Decontaminate.flagContaminated(train, bench, "doc_id", "text")
    }
    audit("bloom_contaminated") {
      graft.text.Decontaminate.bloomFlagContaminated(train, bench, "doc_id", "text")
    }
    audit("minhash_lsh_self") {
      graft.dedup.NearDup.minHashLsh(train, "doc_id", "text", bands = 16,
        rowsPerBand = 1, estPrefilter = false)
    }
    audit("minhash_against_corpus") {
      graft.dedup.NearDup.minHashLshAgainstCorpus(train, bench, "doc_id", "text",
        bands = 16, rowsPerBand = 1, estPrefilter = false)
    }
    audit("simhash_self") {
      graft.dedup.NearDup.simHashNearDups(
        graft.dedup.NearDup.simHash(train, "doc_id", "text"))
    }
    audit("simhash_against_corpus") {
      graft.dedup.NearDup.simHashNearDupsAgainstCorpus(
        graft.dedup.NearDup.simHash(train, "doc_id", "text"),
        graft.dedup.NearDup.simHash(bench, "doc_id", "text"))
    }
    audit("setsim_jaccard_join") {
      graft.dedup.SetSimJoin.jaccardJoin(train, "doc_id", "text", 4, 5)
    }
    audit("substr_dup_spans") {
      graft.text.SubstrDedup.dupSpans(train, "doc_id", "text")
    }
    audit("para_dedup") {
      graft.text.ParaDedup.dupParagraphProfile(train, "doc_id", "text")
    }
    audit("tfidf") {
      graft.text.CorpusStats.tfIdfTopTerms(train, "doc_id", "text", topK = 5)
    }
    audit("pmi") {
      graft.text.CorpusStats.pmiBigrams(train, "text", minCount = 10L, topN = 50)
    }
    audit("bm25_topk") {
      graft.text.Bm25.topK(train, bench.limit(3), k = 10)
    }
    audit("url_dedup") {
      graft.text.UrlCurate.dedupByCanonicalUrl(
        train.withColumn("url",
          concat(lit("http://ex.com/p?id="), col("doc_id"))), "url", "doc_id")
    }
    audit("embed_neardup") {
      graft.similarity.Ann.embeddingNearDups(emb, threshold = 0.95)
    }
    spark.stop()
  }
}
