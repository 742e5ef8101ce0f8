package graft.tools

import org.apache.spark.sql.functions._

import graft.text.PhraseSearch

/** Soak probe for [[graft.text.PhraseSearch.multiPhraseMatches]] at
  * realistic decontamination-sweep phrase counts. The shipped
  * q_multi_phrase gate row drives 3 phrases; the production use case is
  * hundreds of benchmark prompts swept against the corpus at once. The
  * round-11 implementation grew a chained-`when` expression linearly in
  * distinct phrase tokens (codegen/analyzer risk at ~2-3 k tokens); the
  * round-12 broadcast-lookup-join form keeps the PLAN constant-size —
  * this probe demonstrates both that the plan survives 200+ phrases and
  * that cost tracks total phrase-token OCCURRENCES (the postings volume
  * surviving the broadcast semi-filter), not |phrases| × corpus.
  *
  * Phrases are drawn deterministically from the corpus's own text (so
  * they hit real postings): for phrase i, take 3 consecutive tokens
  * starting at offset (i*17 mod len) of document (i*37 mod nSample) —
  * genuine contamination probes, duplicated nothing.
  *
  * A third lens: `mode=absent` generates phrases whose tokens occur
  * NOWHERE in the corpus — the floor cost of a sweep (one corpus
  * explode + a broadcast probe that drops every posting). Real
  * decontamination sits between the two: hundreds of mostly-disjoint
  * prompts ≈ the absent floor plus each prompt's own (small) postings.
  *
  * usage: MultiPhraseProbe <sfDir> [phraseCounts,comma,separated] [mode]
  */
object MultiPhraseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val counts = args.drop(1).headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(3, 50, 200, 500))
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    // deterministic phrase pool from a bounded sample of real documents
    val sample = docs.orderBy("doc_id").limit(200)
      .select("text").collect().map(_.getString(0))
    val mode = args.drop(2).headOption.getOrElse("real")
    val maxPhrases = counts.max
    val pool =
      if (mode == "absent")
        (0 until maxPhrases).map(i =>
          Seq(s"zq${i}a", s"zq${i}b", s"zq${i}c")).toIndexedSeq
      else (0 until maxPhrases).flatMap { i =>
        val toks = sample(i * 37 % sample.length).split(" ").filter(_.nonEmpty)
        if (toks.length < 3) None
        else {
          val off = (i * 17) % math.max(1, toks.length - 2)
          Some(toks.slice(off, off + 3).toSeq)
        }
      }.distinct

    counts.foreach { c =>
      val phrases = pool.take(c)
      val distinctToks = phrases.flatten.distinct.size
      // occurrence volume = the postings rows surviving the token filter
      val occ = docs.select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").isin(phrases.flatten.distinct: _*)).count()
      def run(): (Double, Long) = {
        val t0 = System.nanoTime()
        val n = PhraseSearch.multiPhraseMatches(docs, "doc_id", "text", phrases).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      run() // warmup
      val (t, n) = run()
      println(f"[probe] phrases=$c%-4d distinct_toks=$distinctToks%-5d occurrences=$occ%-12d wall=$t%7.2fs match_rows=$n")
    }
    spark.stop()
  }
}
