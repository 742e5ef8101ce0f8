package graft.tools
import org.apache.spark.sql.functions._
/** Dev scratch: logical size estimates of the LSH band/token tables at a
  * given fixture/split — why does the static planner broadcast them?
  */
object StatsProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4, 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args(0); val split = args(1).toLong
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("doc_id") < split)
    def sz(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      println(s"[stats] $name -> ${df.queryExecution.optimizedPlan.stats.sizeInBytes}")
    sz("train", train)
    val chunks = graft.text.Chunker.chunk(
      train.select(col("doc_id").as("id"), col("text")), "id", "text", 24, 12)
    sz("chunks", chunks)
    val pref = chunks.select(concat(lit("t:"), col("id").cast("string"),
        lit("#"), col("chunk_idx").cast("string")).as("id"),
      col("chunk_text").as("text"))
    val sig = graft.dedup.NearDup.signatures(pref, "id", "text", 16)
    sz("signatures", sig)
    val band = graft.dedup.NearDup.bandRows(sig, 16, 1)
    sz("bandRows", band)
    val toks = pref.select(col("id"),
      array_distinct(graft.text.TextAnalysis.tokens(col("text"))).as("toks"))
    sz("newToks", toks)
    spark.stop()
  }
}
