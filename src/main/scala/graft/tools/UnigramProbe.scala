package graft.tools

import org.apache.spark.sql.functions._

/** Phase-attribution probe for [[graft.text.Unigram.encode]]: times the
  * vocabulary pin, the distinct-word pin, the forward+backward DP
  * rounds, and the final corpus reassembly action separately, on
  * whatever fixture `args(0)` points at. Diagnostic main, not part of
  * the gate.
  *
  * Usage: SPARK_DRIVER_MEM=48g sbt "runMain graft.tools.UnigramProbe [sfDir]"
  * (`runMain` forks the driver JVM with `-Xmx$SPARK_DRIVER_MEM`; a
  * `spark.driver.memory` setting cannot resize a driver already running)
  */
object UnigramProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val d = spark.read.parquet(s"$dir/documents.parquet")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val v = timed("vocab build+pin") {
      broadcast(graft.text.Unigram.vocab(d, "doc_id", "text", minCount = 50L)
        .localCheckpoint())
    }
    val toks = d.select(col("doc_id").as("id"),
      posexplode(graft.text.TextAnalysis.tokens(col("text"))).as(Seq("idx", "word")))
      .filter(length(col("word")) > 0)
    val enc = timed("encodeWords (pins + DP)") {
      graft.text.Unigram.encodeWords(toks.select("word"), v).localCheckpoint()
    }
    timed("corpus reassembly action") {
      toks.join(broadcast(enc), "word")
        .groupBy("id").agg(
          count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          sum(col("score_micro")).as("score_micro"),
          array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("seg")))),
            x => x.getField("seg")), " ").as("ug_text"))
        .write.mode("overwrite").format("noop").save()
    }
    spark.stop()
  }
}
