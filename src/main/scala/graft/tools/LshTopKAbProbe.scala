package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.similarity.Ann

/** The r17-deferred A/B for [[graft.similarity.Ann.lshShuffledTopK]]'s
  * bucket-cap stage (VERDICT r17 next-round #4), at soak scale:
  *
  *  - shape A (shipped): `cPost.groupBy(tbl,bucket).count` → cap filter →
  *    JOIN back onto cPost — the narrow posting pass is EVALUATED twice,
  *    but the cap aggregate ships only map-side partials and the join
  *    back is a broadcast of the ok-bucket list;
  *  - shape B (candidate): per-bucket counts via a window over
  *    (tbl, bucket) — one evaluation of the posting pass, but the FULL
  *    |C|·nTables posting table crosses one hash exchange and sorts.
  *
  * Both produce identical capped postings (same counts, same filter), so
  * the probe checks result equality and times the full topK through each
  * shape, warm, median-of-3.
  *
  * usage: LshTopKAbProbe [sfDir] [k] [nBits]
  */
object LshTopKAbProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak100d10_r17")
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val nBits = args.lift(2).map(_.toInt).getOrElse(Ann.AutoBits)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")

    // shape B: lshShuffledTopK with the cap stage as a window — kept in
    // the probe only; everything else mirrors the operator byte-for-byte
    def windowForm(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
      val bits = Ann.resolveBits(nBits, corpus)
      val dim = 64; val seed = 42L; val nTables = 4; val maxBucket = 100000
      val tablePlanes = (0 until nTables).map(t => Ann.hyperplanes(bits, dim, seed + t))
      val cPost = corpus.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .select(col("cid"), explode(array(tablePlanes.zipWithIndex.map { case (p, t) =>
          struct(lit(t).as("tbl"), Ann.bucketExpr(col("cvec"), p).as("bucket"))
        }: _*)).as("tb"))
        .select(col("cid"), col("tb.tbl"), col("tb.bucket"))
      val cCap = cPost
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("tbl", "bucket")))
        .filter(col("__n") <= maxBucket).drop("__n")
      val probes = array((lit(0L) +: (0 until bits).map(i => lit(1L << i))): _*)
      val qPost = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .select(col("qid"), explode(array(tablePlanes.zipWithIndex.map { case (p, t) =>
          struct(lit(t).as("tbl"), Ann.bucketExpr(col("qvec"), p).as("b0"))
        }: _*)).as("tb"))
        .select(col("qid"), col("tb.tbl"),
          explode(transform(probes, m => col("tb.b0").bitwiseXOR(m))).as("bucket"))
      val cand = cCap.join(qPost, Seq("tbl", "bucket"))
        .filter(col("cid") =!= col("qid"))
        .select("qid", "cid").distinct()
      val qv = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .withColumn("qn", VectorOps.norm(col("qvec")))
      val cv = corpus.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        .withColumn("cn", VectorOps.norm(col("cvec")))
      val scored = cand.join(qv, "qid").join(cv, "cid")
        .select(col("qid"), col("cid"),
          round(VectorOps.cosineFromParts(
            VectorOps.dot(col("qvec"), col("cvec")), col("qn"), col("cn")), 6).as("cosine"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }

    def aggForm(): DataFrame = Ann.lshShuffledTopK(emb, emb, k = k, nBits = nBits)

    // equality on the SMALL sf (the law is scale-free; the 100× except
    // of two full topK trees in one plan OOMs a 4g probe JVM)
    val small = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    def wSmall() = windowForm(small, small, k)
    def aSmall() = Ann.lshShuffledTopK(small, small, k = k, nBits = nBits)
    val diff = aSmall().except(wSmall()).limit(1).count() +
      wSmall().except(aSmall()).limit(1).count()
    println(s"[probe] window-form == agg-form (sf0.1): ${diff == 0}")

    def timed(tag: String)(f: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $tag%-34s $s%7.2fs"); s
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm both, then alternate 3 readings each
    noop(aggForm()); noop(windowForm(emb, emb, k))
    val aggT = (1 to 3).map(i => timed(s"agg+join form $i")(noop(aggForm())))
    val winT = (1 to 3).map(i => timed(s"window form $i")(noop(windowForm(emb, emb, k))))
    println(f"[probe] medians: agg=${aggT.sorted.apply(1)}%.2f window=${winT.sorted.apply(1)}%.2f")
    spark.stop()
  }
}
