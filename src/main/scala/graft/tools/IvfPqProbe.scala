package graft.tools

import org.apache.spark.sql.functions._

/** Dev scratch: stage-by-stage timing of the IVFADC from-raw chain at
  * soak scale — locates which component carries the wall when the
  * composite query reads slow.
  */
object IvfPqProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak100d10")
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.2fs"); r
    }
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    println(s"[probe] vectors: ${emb.count()}")
    val cents = timed("centroids")(graft.similarity.Ivf.centroids(emb, nLists = 16))
    val cb = timed("codebooks")(graft.similarity.Pq.sampledCodebooks(emb, m = 4, ksub = 16))
    val idx = graft.similarity.Ivf.buildIndex(emb, cents)
    timed("buildIndex scan (noop)") {
      idx.write.format("noop").mode("overwrite").save()
    }
    timed("encode scan (noop)") {
      graft.similarity.Pq.encode(idx, cb, "cid", "cvec", passthrough = Seq("cell"))
        .write.format("noop").mode("overwrite").save()
    }
    val qs = emb.filter(col("vec_id") < 5)
    // stage bisect of the ivfAdcTopK internals
    val enc = graft.similarity.Pq.encode(idx, cb, "cid", "cvec", passthrough = Seq("cell"))
      .select(col("cid"), col("cell"), posexplode(col("codes")).as(Seq("s", "code")))
    timed("enc posexplode (noop)") {
      enc.write.format("noop").mode("overwrite").save()
    }
    val qc = graft.similarity.Ivf.probedCells(qs, cents, 4)
      .select(col("qid"), col("cell"))
    val candidates = enc.join(broadcast(qc), Seq("cell"))
    // is it the COMPOSITE stage? pin the exploded codes, then join
    timed("enc pinned + join (noop)") {
      val encPinned = enc.localCheckpoint()
      encPinned.join(broadcast(qc), Seq("cell"))
        .write.format("noop").mode("overwrite").save()
    }
    // or the Generate placement? join FIRST on (cid, cell, codes), explode after
    timed("join-then-explode (noop)") {
      val encArr = graft.similarity.Pq.encode(idx, cb, "cid", "cvec",
        passthrough = Seq("cell"))
      encArr.join(broadcast(qc), Seq("cell"))
        .select(col("cid"), col("cell"), col("qid"),
          posexplode(col("codes")).as(Seq("s", "code")))
        .write.format("noop").mode("overwrite").save()
    }
    timed("cell histogram") {
      graft.similarity.Ivf.buildIndex(emb, cents).groupBy("cell").count()
        .orderBy(desc("count")).show(16, false)
    }
    timed("probed cells") { qc.show(20, false) }
    timed("candidates count") { println(s"[probe] candidates=${candidates.count()}") }
    timed("candidates join (noop)") {
      candidates.write.format("noop").mode("overwrite").save()
    }
    println(candidates.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Join") || l.contains("Generate") || l.contains("Project"))
      .mkString("\n"))
    val lut = graft.similarity.Pq.lutFor(qs, cb, "vec_id", "embedding")
    val scored = candidates.join(broadcast(lut),
        candidates("qid") === lut("qid") && candidates("s") === lut("s")
          && candidates("code") === lut("j"))
      .filter(col("cid") =!= candidates("qid"))
      .groupBy(candidates("qid").as("qid"), col("cid"))
      .agg(sum(col("lutv")).as("iscore"))
    timed("scored agg (noop)") {
      scored.write.format("noop").mode("overwrite").save()
    }
    timed("full ivfAdcTopK (noop)") {
      graft.similarity.Pq.ivfAdcTopK(idx, qs, cents, cb, k = 10, nProbe = 4)
        .write.format("noop").mode("overwrite").save()
    }
    timed("full again (warm)") {
      graft.similarity.Pq.ivfAdcTopK(idx, qs, cents, cb, k = 10, nProbe = 4)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
