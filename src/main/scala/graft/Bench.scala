package graft
import org.apache.spark.sql.SparkSession
import graft.ops.Tables
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle-partition override: at soak scale (≥10× sf0.1) partitions
    // sized `cpus` spill on the window-heavy queries; 4× cpus is the
    // documented fix (BASELINE.md). Defaults to cpus for the driver run.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
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
    def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        // ShareWindowExchange + vec_dot active in the measured path
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
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
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
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
      val times = (1 to repeats).map(_ => run()).sorted
      // upper median for even n: the conservative (pessimistic) pick
      if (failed) -1.0 else times(times.length / 2)
    }
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results: Map[String, Double] =
      if (!isolateTiers) selected.map { case (n, fn) => n -> measure(n, fn) }
      else selected.groupBy { case (n, _) => tierOf(n) }.toSeq.sortBy(_._1)
        .flatMap { case (_, qs) =>
          spark.stop()
          spark = newSession()
          qs.map { case (n, fn) => n -> measure(n, fn) }
        }.toMap
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
      .filter { case (n, v) => v >= 0 && !superseded.contains(n) }.values.sum
    // Per-tier subtotals: at 110 queries the full bench is minutes of
    // wall, so a regression needs to LOCALIZE without a rerun — the tier
    // whose subtotal moved is where to look.
    val tiers = results.toSeq
      .filter { case (n, v) => v >= 0 && !superseded.contains(n) }
      .groupBy { case (n, _) => tierOf(n) }.toSeq.sortBy(_._1)
      .map { case (t, xs) => s"\"" + t + "\":" + xs.map(_._2).sum }
      .mkString("{", ",", "}")
    // policy fields recorded so round-over-round deltas are readable as
    // signal vs JVM noise (warmup + median-of-3 is the default).
    val sup = superseded.toSeq.sorted
      .flatMap(n => results.get(n).map(v => s"\"" + n + "\":" + v))
      .mkString("{", ",", "}")
    val isoTag = if (isolateTiers) "tier" else "none"
    val json = s"""{"metric":"total","value":$total,"unit":"sec","repeats":$repeats,"warmups":$warmups,"policy":"median","isolate":"$isoTag","stream_noop":$streamNoop,"superseded":$sup,"queries":$qs,"tiers":$tiers,"sf":"$sfDir"}"""
    println(json)
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
        java.nio.file.Files.write(out, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Queries kept green in the correctness gate but excluded from the
    * headline total and tier subtotals because a gate-checked faster
    * form supersedes them: q_winnow's per-position md5 fingerprints cost
    * 242.7 s at 100× where q_winnow_fast's two-lane mod-P polynomial —
    * the same winnowing semantics, also oracle-checked — costs 4.7 s.
    * Still measured every run (regressions stay visible) and reported
    * under the `superseded` JSON field; just no longer billed to the
    * headline, so soak budgets track the actual scale path.
    *
    * The four `*_indexed` rows are the round-14 split of the same idea:
    * they deliberately REBUILD their index inside the measured query
    * (gating the write path — fan-out hygiene, exactly-once layout), so
    * their time is build + probe; the `*_steady` twins measure the
    * probe against a session-memoized index — what a production user's
    * loop pays — under the identical oracle. Headline and the 2× guard
    * now track the steady rows; the rebuild rows stay measured here.
    * q_bm25_deleted (round 15) follows: its measured query rebuilds the
    * full index before erasing, so q_bm25_deleted_steady (tombstone
    * append + probe on the memoized index) carries the headline.
    */
  private[graft] val superseded: Set[String] = Set("q_winnow",
    "q_ann_ivf_indexed", "q_ann_ivfpq_indexed", "q_bm25_indexed",
    "q_bm25_deleted", "q_decontam_fuzzy_indexed", "q_embed_neardup_indexed",
    "q_decontam_semantic_indexed")

  /** Query → bench tier (reporting only — no behavior): reference ETL
    * parity, window functions, relational breadth, text/corpus, dedup +
    * pair graphs, ANN/embeddings, sampling/mixture, event analytics,
    * CDC/layout, streaming-path, multimodal.
    */
  private[graft] def tierOf(name: String): String = name match {
    case "q_s1_scan_filter" | "q_s2_scan_recursive" | "q_s3_scan_catalog" |
         "q_f1_notnull_filter" | "q_p1_project_rename" |
         "q_a1_nonnull_counts" | "q_p2_prune_allnull" | "q_c3_comma_decimal" |
         "q_c4_digit_strip" | "q_n1_fill_defaults" | "q_n2_sentinel_date" |
         "q_d1_distinct" | "q_d2_dedup_keep_first" | "q_pipeline_refined" => "etl"
    case "q_w1_rolling_avg" | "q_w2_group_total_window" | "q_w3_rank_rownumber" |
         "q_w4_initial_date" | "q_w5_rolling_stats" | "q_lag_lead" |
         "q_range_frame" | "q_median_window" => "windows"
    case "q_agg_groupby" | "q_join_revenue_by_segment" | "q_setops" |
         "q_rollup" | "q_cube" | "q_pivot" | "q_topk_orders" |
         "q_explode_pos" | "q_json_extract" | "q_group_quantiles" |
         "q_median_exact" | "q_quantile_gate" => "relational"
    case "q_token_budget" => "sampling" // before the q_token* text glob
    case n if n.startsWith("q_text") || n.startsWith("q_token") ||
         n.startsWith("q_chunk") || n.startsWith("q_decontaminate") => "text"
    case "q_phrase_search" | "q_multi_phrase" | "q_multi_phrase_sweep" => "text"
    case "q_decontam_fuzzy" | "q_decontam_fuzzy_removed" | "q_decontam_fuzzy_indexed" |
         "q_decontam_fuzzy_steady" | "q_decontam_chunked" |
         "q_decontam_chunked_steady" | "q_decontam_matrix" => "text"
    case "q_bm25_topk" | "q_bm25_indexed" | "q_bm25_steady" | "q_bm25_deleted" |
         "q_bm25_deleted_steady" |
         "q_boilerplate" | "q_lm_score" | "q_lm_kneser_ney" | "q_lang_id" |
         "q_pii_scrub" | "q_tfidf_topterms" | "q_vocabulary" |
         "q_pmi_bigrams" | "q_fingerprint" | "q_repetition" |
         "q_repetition_gate" | "q_pack_bins" | "q_pack_render" | "q_source_overlap" |
         "q_bpe_merges" | "q_bpe_train" | "q_bpe_encode" | "q_winnow" | "q_winnow_fast" |
         "q_wordpiece_vocab" | "q_wordpiece_encode" |
         "q_unigram_vocab" | "q_unigram_encode" |
         "q_unigram_em" | "q_unigram_encode_em" |
         "q_cdc_chunks" => "text"
    case n if n.startsWith("q_dedup") || n.startsWith("q_dup_") => "dedup_graph"
    case "q_ngram_jaccard" | "q_triangles" | "q_clustering" |
         "q_pagerank" | "q_substr_spans" | "q_setsim_join" => "dedup_graph"
    case n if n.startsWith("q_ann") => "ann"
    case "q_embed_neardup" | "q_embed_neardup_incremental" |
         "q_embed_neardup_indexed" | "q_embed_neardup_steady" |
         "q_decontam_semantic" | "q_decontam_semantic_removed" |
         "q_decontam_semantic_indexed" | "q_decontam_semantic_steady" |
         "q_quantize_int8" | "q_kmeans_step" |
         "q_neg_sample" | "q_hybrid_rrf" | "q_semantic_dedup" |
         "q_pq_encode" | "q_bitext_mine" |
         "q_pca_power" | "q_pca_project" | "q_pca_incremental" |
         "q_embed_drift" | "q_embed_corr" => "ann"
    case n if n.startsWith("q_sample") => "sampling"
    case "q_split_assign" | "q_group_split" | "q_split_neardup_safe" | "q_mix_temperature" |
         "q_epoch_order" | "q_trainset_build" | "q_rank_features" => "sampling"
    case "q_anomaly" | "q_asof_join" | "q_attribution" | "q_funnel" |
         "q_funnel_summary" | "q_retention" | "q_sessionize" |
         "q_correlation" | "q_mad" | "q_normalize" | "q_winsorize" |
         "q_decayed_sum" | "q_cms_topk" |
         "q_range_join" | "q_range_join_keyed" | "q_fuzzy_link" |
         "q_resample_daily" | "q_rolling_active" |
         "q_hll_distinct" | "q_hll_incremental" | "q_hll_overlap" |
         "q_kmv_distinct" | "q_kmv_sample" | "q_kmv_incremental" |
         "q_quantile_sketch" | "q_quantile_sketch_seg" |
         "q_topk_sketch" | "q_topk_sketch_keyed" => "events"
    case "q_dsir_weights" | "q_source_kl" => "text"
    case "q_url_canonical" | "q_domain_cap" | "q_url_dedup" => "text"
    case "q_para_dedup" | "q_para_profile" => "text"
    case "q_linear_train" | "q_linear_score" |
         "q_logistic_train" | "q_logistic_score" |
         "q_logistic_sweep" => "text"
    case "q_nb_train" | "q_nb_score" | "q_nb_score_holdout" => "text"
    case "q_curation_disposition" | "q_curation_bloom" | "q_curation_funnel" => "text"
    case "q_jsonl_roundtrip" | "q_csv_roundtrip" | "q_orc_roundtrip" => "etl"
    case "q_merge_upsert" | "q_scd2_apply" | "q_agg_upsert" | "q_zorder" |
         "q_quality_audit" | "q_dataset_fingerprint" |
         "q_snapshot_diff" | "q_compaction_plan" |
         "q_zone_prune" => "cdc_layout"
    case n if n.startsWith("q_stream_") => "streaming"
    case "q_cdc_latest" => "streaming"
    case "q_multimodal_meta" | "q_frame_sample" | "q_bmp_decode" |
         "q_wav_decode" | "q_wav_frames" | "q_bmp_resize" |
         "q_image_ahash" | "q_image_ahash_jpeg" | "q_image_phash" |
         "q_image_dual_hash" |
         "q_image_neardup" | "q_video_hashes" | "q_video_neardup" |
         "q_video_phash" | "q_video_neardup_phash" |
         "q_video_mjpeg" | "q_video_mjpeg_neardup" | "q_video_coverage" |
         "q_video_dib" | "q_video_mp4" | "q_video_mixed_neardup" |
         "q_media_meta" | "q_media_meta_containers" | "q_media_meta_m4a" |
         "q_media_meta_webp" | "q_media_meta_apng" | "q_video_apng" | "q_media_meta_images" | "q_media_meta_tiffpages" |
         "q_image_ahash_tiff_t" | "q_image_ahash_ico" |
         "q_image_ahash_pnm" | "q_image_ahash_qoi" | "q_image_ahash_bmp_x" |
         "q_audio_fingerprint_float" | "q_audio_fingerprint_oggflac" |
         "q_audio_fingerprint" | "q_audio_fingerprint_flac" |
         "q_audio_fingerprint_mulaw" | "q_audio_fingerprint_alaw" |
         "q_audio_fingerprint_adpcm" | "q_audio_fingerprint_pcm_widths" |
         "q_audio_fingerprint_msadpcm" |
         "q_audio_fingerprint_au" | "q_audio_fingerprint_aiff" |
         "q_audio_coverage" | "q_image_coverage" | "q_image_ahash_tiff" |
         "q_image_ahash_tiff_c" | "q_image_ahash_tiff_j" |
         "q_audio_spectral" |
         "q_png_decode" | "q_png_alpha" | "q_png_16bit" | "q_png_interlaced" |
         "q_gif_decode" | "q_jpeg_decode" | "q_jpeg_progressive" |
         "q_jpeg_12bit" => "multimodal"
    case _ => "other"
  }
}
