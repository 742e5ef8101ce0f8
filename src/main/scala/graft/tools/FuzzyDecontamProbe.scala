package graft.tools

import org.apache.spark.sql.functions._

import graft.text.Decontaminate

/** Steady-state-vs-from-raw soak for the indexed fuzzy-decontam loop
  * ([[graft.text.Decontaminate.writeBenchIndex]] family). Readings:
  *
  *   1. from_raw — flagNearContaminated (both sides pay signatures);
  *   2. build    — writeBenchIndex (the once-per-benchmark cost);
  *   3. steady   — flagNearContaminatedAgainstIndex on the stored
  *                 index (what every batch pays), cold then warm.
  *
  * The claim being checked: steady pays only the BATCH side's
  * signature pass — the bench side's shingle-md5 work (the dominant
  * cost of the operator) comes off disk. On the soak fixture the
  * "benchmark" side is the corpus remainder (doc_id ≥ split — huge,
  * inverting production shape), which makes the saving it measures the
  * CONSERVATIVE upper-bound shape: a real benchmark is tiny and the
  * split even cheaper.
  *
  * usage: FuzzyDecontamProbe <sfDir> [split] [threshold]
  */
object FuzzyDecontamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val split = args.drop(1).headOption.map(_.toLong).getOrElse(450L)
    val threshold = args.drop(2).headOption.map(_.toDouble).getOrElse(0.9)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "128").toInt)
    // 4th arg "salt": suffix every bench token so the benchmark shares
    // no shingles with the corpus — the CLEAN-benchmark production case
    // (contamination is rare, so verification mass ≈ 0 and steady should
    // sit on the batch signature floor). Without it, a dup-depth soak
    // fixture gives every bench item dozens of train twins and steady is
    // dominated by exact verification of TRUE pairs — the contamination-
    // found cost, not the probe floor.
    val salt = args.drop(3).headOption.contains("salt")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val train = docs.filter(col("doc_id") < split)
    val benchRaw = docs.filter(col("doc_id") >= split)
    val bench =
      if (salt) benchRaw.withColumn("text",
        regexp_replace(col("text"), "(\\S+)", "$1zq"))
      else benchRaw
    // exit-time cleanup (the SparkEntry.scratchDir discipline) — repeated
    // soak runs must not accumulate index copies in /tmp
    val idxRoot = java.nio.file.Files.createTempDirectory("fz_probe")
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
      Decontaminate.flagNearContaminated(train, bench, "doc_id", "text",
        threshold = threshold).count()
    }
    timed("build") { Decontaminate.writeBenchIndex(bench, "doc_id", "text", idx); 0L }
    timed("steady") {
      Decontaminate.flagNearContaminatedAgainstIndex(train, idx, "doc_id", "text",
        threshold = threshold).count()
    }
    timed("steady2") {
      Decontaminate.flagNearContaminatedAgainstIndex(train, idx, "doc_id", "text",
        threshold = threshold).count()
    }
    // the honest floor the steady claim compares against: the BATCH
    // side's signature + band pass alone (no index read, no joins) —
    // "steady ≈ sig_floor" is the production-shape receipt. Must
    // MATERIALIZE (noop write): count() lets the optimizer delete the
    // signature columns and times an empty scan.
    timed("sig_floor") {
      val pref = train.select(
        concat(lit("t:"), col("doc_id").cast("string")).as("id"), col("text"))
      graft.dedup.NearDup.bandRows(
        graft.dedup.NearDup.signatures(pref, "id", "text", 16), 16, 1)
        .write.format("noop").mode("overwrite").save()
      0L
    }
    spark.stop()
  }
}
