package graft.tools

import org.apache.spark.sql.functions._

/** Throwaway stage profiler for the q_dsir_weights 100× soak anomaly. */
object DsirProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak100d10")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      128)
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(s"PROBE $label: ${(System.nanoTime() - t0) / 1e9} s"); r
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val tok = docs.select(col("doc_id").as("id"),
      (col("lang") === "en").as("is_t"),
      explode(split(col("text"), "\\s+")).as("token"))
    time("explode+count only") { tok.agg(count(lit(1))).collect() }
    val b = lit(512L)
    val tokB = tok.withColumn("b", graft.dedup.NearDup.md5Long(col("token")) % b)
    time("explode+md5+groupBy(b)") {
      tokB.groupBy("b").agg(count(lit(1)),
        sum(when(col("is_t"), 1L).otherwise(0L))).collect()
    }
    time("kl-style groupBy(source,token)") {
      docs.select(col("source"), explode(split(col("text"), "\\s+")).as("token"))
        .groupBy("source", "token").count().agg(count(lit(1))).collect()
    }
    time("apply-pass join+groupBy(id)") {
      val bc = tokB.groupBy("b").agg(count(lit(1)).as("c_r"))
        .withColumn("lr", col("c_r"))
      tokB.join(broadcast(bc.select("b", "lr")), Seq("b"))
        .groupBy("id").agg(count(lit(1)), sum("lr"))
        .agg(count(lit(1))).collect()
    }
    time("full operator as shipped") {
      graft.text.Dsir.importanceWeights(docs, "doc_id", "text",
        col("lang") === "en", 512).agg(count(lit(1))).collect()
    }
    spark.stop()
  }
}
