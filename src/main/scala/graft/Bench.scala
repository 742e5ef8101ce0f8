package graft
import org.apache.spark.sql.SparkSession
import graft.ops.Tables
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Shuffle-partition override: at soak scale (≥10× sf0.1) partitions
    // sized `cpus` spill on the window-heavy queries; 4× cpus is the
    // documented fix (BASELINE.md). Defaults to cpus for the driver run.
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(cpus)
    // Comma-separated query-name filter for single-query investigation.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // SPARK_GRAFT_BENCH_ISOLATE=tier: one FRESH SparkSession (new
    // SparkContext, empty block manager, cold code/page-cache state) per
    // bench tier. The default single-session pass accumulates JVM and
    // cache pressure across 200+ queries (~1.26x median inflation on
    // untouched queries by round 13 — NOTES "suite-pressure"), which
    // poisons cross-round per-query comparison; the isolated mode trades
    // session startup (~2 s per tier, NOT billed to any query) for
    // per-tier numbers that match fresh-session truth. Per-QUERY
    // isolation would be the purist fix but multiplies wall clock by the
    // query count; tiers group suite-pressure offenders with their own
    // kind, which measurement showed recovers most of the gap.
    val isolateTiers = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("tier")
    def newSession(): SparkSession = GraftSession.local(cpus, shuffle)
    var spark = newSession()
    // Timing policy (BASELINE.md "Bench variance"): 1 untimed warmup pass
    // per query (JIT + code cache + parquet footer cache), then
    // median-of-`repeats` timed passes. Two identical-binary rounds
    // swung ±30% under the old min-of-2 — min keeps the single luckiest
    // run, so one quiet moment fakes a speedup and one GC spike is
    // invisible; the median of 3 warm runs is the statistic a regression
    // has to actually move.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt
    val warmups = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUPS", "1").toInt
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Profile.Layers) = {
      // noop sink: materializes every row/column of the result (unlike
      // count(), which lets the optimizer delete sorts and projections).
      // A failed query must NOT read as a near-zero "speedup": record -1
      // (clearly invalid) and shout on stderr.
      var failed = false
      def run(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case e: Throwable =>
          failed = true
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // Checkpoint-heavy operators (SetSimJoin, NearDup, Trainset) leave
      // lineage-truncated blocks in the block manager that only free on
      // GC (unpersisting them before the result is consumed would break
      // the plan). Left alone they bleed memory pressure into LATER
      // queries of the pass — q_dedup_lsh_incremental read 38.6 s
      // in-suite vs 14.4 s isolated. A GC nudge between queries keeps
      // each measurement the query's own.
      System.gc()
      // The q_*_steady rows measure a probe against a session-memoized
      // index; the build runs inside SparkEntry's memoizer on the FIRST
      // invocation. With warmups=0 that first invocation would be a
      // timed run, quietly billing the build to the "probe-only" number
      // the steady/rebuild split exists to isolate — so steady rows
      // always get at least one untimed pass regardless of the env var.
      // q_unigram_encode_em memoizes its refined vocab the same way
      // (train once, encode many — r15), so it gets the same guarantee.
      val effWarmups =
        if (warmups == 0 &&
            (name.endsWith("_steady") || name == "q_unigram_encode_em")) 1
        else warmups
      (1 to effWarmups).foreach(_ => run())
      // each timed run is profiled; the median run's layers go with its time
      val runs = (1 to repeats).map(_ => Profile.during(spark)(run())).sortBy(_._1)
      // upper median for even n: the conservative (pessimistic) pick
      val (median, layers) = runs(runs.length / 2)
      (if (failed) -1.0 else median, layers)
    }
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val measured: Map[String, (Double, Profile.Layers)] =
      if (!isolateTiers) selected.map { case (n, fn) => n -> measure(n, fn) }
      else selected.groupBy { case (n, _) => tierOf(n) }.toSeq.sortBy(_._1)
        .flatMap { case (_, qs) =>
          spark.stop()
          spark = newSession()
          qs.map { case (n, fn) => n -> measure(n, fn) }
        }.toMap
    val results: Map[String, Double] = measured.map { case (n, (t, _)) => n -> t }
    // Streaming-engine fixed-cost probe: the q_stream_* rows each carry
    // ~1-2 s of micro-batch machinery (query start, offset/commit log,
    // state-store provider init) that is NOT plan cost and does not grow
    // with data. Measure it directly — a tiny file-source stream (the
    // 5-row region table) drained via AvailableNow into a memory sink,
    // same warmup + median policy — and report it as `stream_noop` so a
    // reader can subtract the constant from each streaming row instead
    // of mistaking engine setup for operator time.
    val streamNoop: Double = if (only.isEmpty) {
      // Under tier isolation the probe must not inherit whichever tier
      // session happened to run last (its suite pressure would skew the
      // constant that gets subtracted from per-tier-isolated q_stream_*
      // rows) — give it the same fresh-session posture as the tiers.
      if (isolateTiers) { spark.stop(); spark = newSession() }
      def probe(i: Int): Double = {
        val t0 = System.nanoTime()
        val schema = Tables.parquetSchema(spark, s"$sfDir/region.parquet")
        val q = spark.readStream.schema(schema)
          .option("basePath", sfDir).parquet(s"$sfDir/region.parquet*")
          .writeStream.outputMode("append").format("memory")
          .queryName(s"graft_bench_stream_noop_$i")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
      (0 until warmups).foreach(probe)
      val times = (0 until repeats).map(i => probe(warmups + i)).sorted
      times(times.length / 2)
    } else -1.0
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failed (-1) excluded; superseded forms measured but kept out of the
    // headline so soaks stop paying for queries with a faster gate-checked
    // replacement (q_winnow's md5 twin costs ~50× q_winnow_fast at 100×).
    val total = results
      .filter { case (n, v) => v >= 0 && !SparkEntry.superseded.contains(n) }.values.sum
    // Per-tier subtotals: at 110 queries the full bench is minutes of
    // wall, so a regression needs to LOCALIZE without a rerun — the tier
    // whose subtotal moved is where to look.
    val tiers = results.toSeq
      .filter { case (n, v) => v >= 0 && !SparkEntry.superseded.contains(n) }
      .groupBy { case (n, _) => tierOf(n) }.toSeq.sortBy(_._1)
      .map { case (t, xs) => s"\"" + t + "\":" + xs.map(_._2).sum }
      .mkString("{", ",", "}")
    // policy fields recorded so round-over-round deltas are readable as
    // signal vs JVM noise (warmup + median-of-3 is the default).
    val sup = SparkEntry.superseded.toSeq.sorted
      .flatMap(n => results.get(n).map(v => s"\"" + n + "\":" + v))
      .mkString("{", ",", "}")
    val isoTag = if (isolateTiers) "tier" else "none"
    val json = s"""{"metric":"total","value":$total,"unit":"sec","repeats":$repeats,"warmups":$warmups,"policy":"median","isolate":"$isoTag","stream_noop":$streamNoop,"superseded":$sup,"queries":$qs,"tiers":$tiers,"sf":"$sfDir"}"""
    println(json)
    // Each row's layers (Profile.Layers) go to the persisted files only:
    // the stdout line keeps its fields for the tail parse that reads it.
    val layers = measured.map { case (n, (_, l)) => s"\"" + n + "\":" + l.json }
      .mkString("{", ",", "}")
    val persisted = json.dropRight(1) + s""","layers":$layers}"""
    // The driver captures only the TAIL of stdout (BENCH_r10 kept 55 of
    // 143 per-query entries); persist the full line so per-query history
    // survives log truncation. SPARK_GRAFT_BENCH_OUT overrides the
    // CWD-relative default for launches from outside the repo root.
    // filtered (SPARK_GRAFT_ONLY) runs write to a sibling path: a
    // partial map must never clobber the last full run's artifact
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "target/bench.json" else "target/bench_only.json")
    // ALSO mirror the full line to a git-TRACKED path: BENCH_rN.json
    // truncates to a tail, and target/ is wiped by clean builds — r16's
    // cross-round per-query analysis only worked because target/
    // happened to survive (VERDICT r16 #6). bench/full_latest.json gets
    // committed with each round, so git history keeps one full
    // per-query artifact per round. Skipped for filtered
    // (SPARK_GRAFT_ONLY) runs — a partial map must never masquerade as
    // the round's full bench.
    val paths =
      if (only.isEmpty) Seq(outPath, "bench/full_latest.json") else Seq(outPath)
    paths.foreach { p =>
      try {
        val out = java.nio.file.Paths.get(p)
        if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out, persisted.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Query → bench tier, as the registry declares it. */
  private[graft] def tierOf(name: String): String = SparkEntry.tierOf(name)
}
