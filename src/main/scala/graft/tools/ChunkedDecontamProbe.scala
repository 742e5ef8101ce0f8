package graft.tools

import org.apache.spark.sql.functions._

import graft.text.Decontaminate

/** Steady-state-vs-from-raw soak for the CHUNKED containment scan
  * ([[graft.text.Decontaminate.flagNearContaminatedChunked]] family).
  * Readings:
  *
  *   1. from_raw — both sides pay signatures (windows + bench);
  *   2. build    — writeBenchIndex over the bench items;
  *   3. steady   — flagNearContaminatedChunkedAgainstIndex on the
  *                 stored index (what every batch pays), cold then warm.
  *
  * Fixture shape: the benchmark side is the 24-token PREFIX of every
  * doc at/after `split` (HUGE on the soak fixtures — inverting
  * production shape, so the numbers are the conservative upper bound);
  * the batch side is the docs below `split`, windowed at 24/12.
  *
  * usage: ChunkedDecontamProbe <sfDir> [split] [threshold]
  */
object ChunkedDecontamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val split = args.drop(1).headOption.map(_.toLong).getOrElse(450L)
    val threshold = args.drop(2).headOption.map(_.toDouble).getOrElse(0.5)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    // 4th arg "salt": suffix every bench token so the benchmark shares
    // no shingles with the corpus — the CLEAN-benchmark production case
    // (see FuzzyDecontamProbe).
    val salt = args.drop(3).headOption.contains("salt")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("doc_id") < split)
    val benchRaw = docs.filter(col("doc_id") >= split)
      .select(col("doc_id"),
        concat_ws(" ",
          slice(graft.text.TextAnalysis.tokens(col("text")), 1, 24)).as("text"))
    val bench =
      if (salt) benchRaw.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1zq"))
      else benchRaw
    // exit-time cleanup (the SparkEntry.scratchDir discipline) — repeated
    // soak runs must not accumulate index copies in /tmp
    val idxRoot = java.nio.file.Files.createTempDirectory("fzc_probe")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import java.nio.file.{Files, Path}
        Files.walk(idxRoot).sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      } catch { case _: Throwable => () }))
    val idx = idxRoot.resolve("idx").toString

    def timed(label: String)(body: => Long): Unit = {
      System.gc() // free prior readings' checkpoint blocks (the Bench rule)
      val t0 = System.nanoTime()
      val n = body
      println(f"[probe] $label%-9s wall=${(System.nanoTime() - t0) / 1e9}%7.2fs rows=$n")
    }

    docs.count() // warmup scan
    timed("from_raw") {
      Decontaminate.flagNearContaminatedChunked(train, bench, "doc_id", "text",
        chunkSize = 24, stride = 12, threshold = threshold).count()
    }
    timed("build") { Decontaminate.writeBenchIndex(bench, "doc_id", "text", idx); 0L }
    timed("steady") {
      Decontaminate.flagNearContaminatedChunkedAgainstIndex(train, idx,
        "doc_id", "text", chunkSize = 24, stride = 12, threshold = threshold).count()
    }
    timed("steady2") {
      Decontaminate.flagNearContaminatedChunkedAgainstIndex(train, idx,
        "doc_id", "text", chunkSize = 24, stride = 12, threshold = threshold).count()
    }
    // the honest floor the steady claim compares against: the BATCH
    // side's window explode + signature + band pass alone (no index
    // read, no joins) — "steady ≈ sig_floor" is the production-shape
    // receipt. Must MATERIALIZE (noop write): count() lets the
    // optimizer delete the signature columns and times an empty scan.
    timed("sig_floor") {
      val chunks = graft.text.Chunker.chunk(
          train.select(col("doc_id").as("id"), col("text")),
          "id", "text", 24, 12)
        .select(concat(lit("t:"), col("id").cast("string"),
            lit("#"), col("chunk_idx").cast("string")).as("id"),
          col("chunk_text").as("text"))
      graft.dedup.NearDup.bandRows(
        graft.dedup.NearDup.signatures(chunks, "id", "text", 16), 16, 1)
        .write.format("noop").mode("overwrite").save()
      0L
    }
    spark.stop()
  }
}
