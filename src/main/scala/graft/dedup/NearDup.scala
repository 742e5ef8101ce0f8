package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.NioLocalFileSystem
import graft.text.TextAnalysis
import graft.ops.Tables

/** Near-duplicate detection for document corpora: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All built from native Spark expressions (no
  * UDFs) so signature computation stays in WholeStageCodegen and the only
  * shuffles are the candidate-generation joins.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - signatures are a narrow per-row map over the scan;
  *  - LSH/banding turns the O(n²) all-pairs problem into a self-join on
  *    band hashes — each document lands in `bands` buckets, so the join
  *    input is `bands × n` rows, and only same-bucket pairs are compared;
  *  - the final exact verification (Jaccard / Hamming) runs only on
  *    candidate pairs, which for realistic thresholds is ≪ n².
  * Skewed buckets (boilerplate-heavy corpora) are the known hazard: AQE
  * skew-join handles moderate skew; pathological buckets should be capped
  * upstream (drop buckets with > maxBucket docs — they're boilerplate by
  * definition).
  */
object NearDup {

  // -------------------------------------------------------------------
  // Hashing
  // -------------------------------------------------------------------

  /** 60-bit integer hash derived from md5: the first 15 hex chars parsed
    * base-16. Chosen over xxhash64 because md5 exists in every engine, so
    * the whole MinHash/SimHash construction below is externally replayable
    * (DuckDB: `('0x' || substring(md5(x), 1, 15))::BIGINT`) — the dedup
    * tier is hash-checked against an independent oracle instead of
    * "trust me". 60 bits keeps the value non-negative in a signed int64 in
    * every engine; collision odds at 60 bits are ~n²/2⁶¹ — irrelevant for
    * MinHash slots. md5 costs more CPU per row than xxhash64 but is still
    * a codegen'd per-row map: the shuffle shape (what matters at 100 TB)
    * is unchanged.
    *
    * Implementation is the fused [[graft.functions.Md5Long]] expression
    * (digest bytes → long directly, one thread-local MessageDigest),
    * bit-identical to the composite
    * `conv(substring(md5(to_binary(c,'utf-8')),1,15),16,10)` it replaced
    * but without the per-row hex-string/substring/re-parse allocations —
    * profiled 3.8× cheaper per pass on the 100× corpus (NOTES.md round 9;
    * `SPARK_GRAFT_SF_DIR=<ScaleFixture 100× dir> SPARK_GRAFT_ONLY=
    * q_dsir_weights sbt "runMain graft.Bench"` reruns the q_dsir_weights row).
    */
  def md5Long(c: Column): Column = graft.functions.Md5Long.md5Long60(c)

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Exact duplicate groups keyed by normalized content hash; keeps the
    * minimum id as the group representative. Group-by is on the 128-bit
    * digest, not the text, so shuffle rows carry 32 bytes instead of
    * whole documents.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(TextAnalysis.docFingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup: `newDocs` minus any document whose content
    * fingerprint already exists in `seenDocs` — the production shape of
    * exact dedup, where each ingest batch checks against the historical
    * corpus instead of re-deduplicating it. The anti join carries 128-bit
    * digests only (the seen side reduces to its distinct fingerprint set
    * before the join), so the historical corpus contributes 16 bytes per
    * distinct document, not its text — in practice the seen side is a
    * pre-materialized fingerprint table, not a rescan.
    */
  def dedupAgainstCorpus(newDocs: DataFrame, seenDocs: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    val seenFp = seenDocs
      .select(TextAnalysis.docFingerprint(col(textCol)).as("fingerprint"))
      .distinct()
    // a left-anti join can ONLY broadcast its right side, and the seen
    // corpus's fingerprint table is history-sized with a corrupted
    // static estimate (r15 [[mergeIfBig]] hazard) — guard it; a small
    // history keeps the broadcast anti-join
    val bigSeen = seenDocs.count() > BroadcastSafeRows
    newDocs
      .withColumn("fingerprint", TextAnalysis.docFingerprint(col(textCol)))
      .join(mergeIfBig(seenFp, bigSeen), Seq("fingerprint"), "left_anti")
  }

  // -------------------------------------------------------------------
  // Exact Jaccard on token sets (the verifier for candidate pairs, and a
  // standalone operator for small/linear pair sets)
  // -------------------------------------------------------------------

  /** Jaccard similarity of two token-set columns (inputs must be distinct
    * arrays): |A∩B| / |A∪B| — one intersect + one union pass.
    */
  def jaccard(tokensA: Column, tokensB: Column): Column =
    size(array_intersect(tokensA, tokensB)).cast(DoubleType) /
      size(array_union(tokensA, tokensB)).cast(DoubleType)

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /** MinHash signature from a *staged* per-shingle (h1, h2) struct-array
    * column: the `numHashes` hash functions are the Kirsch–Mitzenmacher
    * double-hashing family gᵢ = h1 + i·h2 over ONE md5 per shingle
    * (h1 = hex chars 1-15 → 60 bits, h2 = chars 16-29 → 56 bits), so
    * signature computation costs one md5 per shingle instead of
    * `numHashes` — the dominant cost of the whole operator — while
    * remaining externally replayable digit-for-digit (the oracle runs the
    * same integer arithmetic). No overflow: i·h2 < 16·2⁵⁶ = 2⁶⁰, so
    * gᵢ < 2⁶¹ fits signed int64 in every engine, ANSI included.
    * signature[i] = min over shingles of gᵢ. `numHashes` ≤ 16 keeps the
    * overflow bound; that's bands × rowsPerBand for every supported
    * configuration.
    */
  def minHashSignature(hs: Column, numHashes: Int): Column = {
    require(numHashes <= 16, s"numHashes=$numHashes: the no-overflow bound i*h2 < 2^60 needs i < 16")
    array((0 until numHashes).map { i =>
      array_min(transform(hs, p =>
        p.getField("h1") + lit(i.toLong) * p.getField("h2")))
    }: _*)
  }

  /** (id, signature) via the fused codegen'd
    * [[graft.functions.MinHashSig]] expression — one md5 per shingle and
    * one pass over the array, replacing the staged HOF chain (md5s →
    * (h1,h2) pairs → numHashes interpreted array_min passes). Bit-equality
    * with the HOF construction ([[minHashSignature]], kept as the semantic
    * reference) is pinned by NearDupSpec.
    */
  private[graft] def signatures(docs: DataFrame, idCol: String, textCol: String,
                                numHashes: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), col(textCol).as("t"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col("id"), TextAnalysis.shinglesFromTokens(col("t"), col("tk")).as("sh"))
      .select(col("id"), graft.functions.MinHashSig.sig(col("sh"), numHashes).as("sig"))

  /** (id, band, bh) band-bucket rows from a signature frame: band hash =
    * md5Long over "band|slot|slot|..." (the band's signature slice in
    * decimal — identical text in any engine). Band rows carry ONLY
    * (id, bandhash): a candidate pair costs 16 bytes on the wire, never
    * the document/token payload.
    */
  private[graft] def bandRows(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("id"), explode(
      array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          md5Long(concat_ws("|", lit(b.toString) +: (0 until rowsPerBand)
            .map(r => element_at(col("sig"), b * rowsPerBand + r + 1).cast(StringType)): _*)).as("bh"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh"))

  /** MinHash-estimate prefilter threshold: exact verification is only paid
    * by pairs whose signature agreement clears the threshold minus ~1.5
    * standard errors of the estimator.
    */
  private def estSlack(threshold: Double, numHashes: Int): Double =
    math.max(0.0, threshold - 1.5 / math.sqrt(numHashes.toDouble))

  /** Candidate near-dup pairs via LSH banding of MinHash signatures.
    * `numHashes = bands × rowsPerBand`; two docs become a candidate pair
    * iff at least one band of their signatures matches exactly. Returns
    * distinct (id_a < id_b) candidate pairs with their exact token-set
    * Jaccard attached, filtered to `threshold`.
    *
    * `estPrefilter` is the documented RECALL/COST knob (the round-13
    * bimodal-slot finding): when true (default — dedup's cost posture),
    * only candidates whose signature-agreement estimate clears
    * `threshold − 1.5/√numHashes` pay the exact verification. That
    * slack is calibrated for a binomial estimator, but under the
    * Kirsch–Mitzenmacher gᵢ = h1 + i·h2 family slot agreement is
    * BIMODAL for borderline pairs — one unshared shingle with a small
    * h2 can sweep every slot minimum, so a pair at true token-J ≈ 0.92
    * can realize 1/16 agreeing slots and die at the prefilter (measured
    * 16/20 recall on a planted-single-edit probe at 4×4 banding).
    * Dedup keeps the prefilter: a missed near-dup costs storage, and
    * the prefilter saves the exact-verify join on the candidate bulk.
    * RECALL-primary callers (decontamination, takedown sweeps — a miss
    * poisons an eval set or leaves liability live) should pass
    * `estPrefilter = false`, usually with 1-row bands: every banded
    * candidate is exact-verified (the probe reads 20/20, at ~+10%
    * cost). The estimate is a COST device, never a correctness device.
    */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 bands: Int = 4, rowsPerBand: Int = 4,
                 threshold: Double = 0.7,
                 maxBucket: Int = 1000,
                 estPrefilter: Boolean = true): DataFrame = {
    val numHashes = bands * rowsPerBand
    // The signature table feeds at least TWO consumers in every posture
    // (its band rows drive BOTH the bucket-size agg and the candidate
    // join; the estimate prefilter adds two more) and the
    // md5-per-shingle pass is the operator's dominant cost — so
    // materialize it once: (id, 16 longs) rows, tiny next to the corpus.
    // Same count-your-consumers lesson as SetSimJoin.
    val sig = signatures(docs, idCol, textCol, numHashes).localCheckpoint()
    val banded = bandRows(sig, bands, rowsPerBand)

    // cap pathological buckets (boilerplate): they explode the join and
    // carry no dedup signal beyond "everything matches everything".
    // Materialized because both self-join sides consume it.
    val bucketSizes = banded.groupBy("band", "bh").count()
    val capped = banded.join(
      bucketSizes.filter(col("count") <= maxBucket).select("band", "bh"),
      Seq("band", "bh"))
      .localCheckpoint()

    // distinct candidate id-pairs (a pair hitting k bands collapses to one)
    val candidates = capped.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(capped.select(col("band"), col("bh"), col("id").as("id_b")), Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    // cheap prefilter: estimated Jaccard = fraction of agreeing signature
    // slots (the MinHash estimator). Only pairs whose estimate clears a
    // slackened threshold pay for the exact token-set verification —
    // skipped entirely under the recall posture (see scaladoc).
    val slack = estSlack(threshold, numHashes)
    val sigEst =
      if (!estPrefilter) candidates
      else candidates
        .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
        .withColumn("est",
          size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x)) /
            lit(numHashes.toDouble))
        .filter(col("est") >= slack)
        .select("id_a", "id_b")

    // exact verification on the surviving pairs only
    val bigCorpus = sig.count() > BroadcastSafeRows // sig is pinned: cheap
    val toks = mergeIfBig(docs.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("toks")), bigCorpus)
    sigEst
      .join(toks.select(col("id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Join-strategy guard for corpus-derived join inputs (token tables,
    * band rows): their STATIC size estimates come off the compressed
    * parquet scan scaled by column-width ratios, which sits orders of
    * magnitude below true in-memory size — compressed text plus the
    * ×bands / ×windows explodes are invisible to width-ratio stats.
    * Measured on the 100× production-shape decontam probe: a 500k-doc
    * batch's band table ESTIMATED 4 MB (under the 10 MB broadcast
    * threshold) and the static planner picked it as a broadcast BUILD
    * side — 8+ GiB materialized on the driver, job dead. AQE cannot
    * save a statically-planned broadcast deep in a no-shuffle pipeline
    * (there is no stage boundary to re-plan at), so when the caller
    * KNOWS the side is big — one cheap count — it forces the
    * sort-merge path. Small sides keep the unhinted plan (the tiny
    * benchmark/batch broadcasts the planner already gets right).
    */
  private[graft] val BroadcastSafeRows = 8192L
  private[graft] def mergeIfBig(df: DataFrame, big: Boolean): DataFrame =
    if (big) df.hint("merge") else df

  /** Incremental MinHash+LSH near-dup: each NEW document checked against
    * the SEEN corpus — the ingest-batch shape of [[minHashLsh]], pairing
    * [[dedupAgainstCorpus]] (exact) the way production pipelines do: a
    * daily batch must not re-near-dedup the historical 100 TB against
    * itself, only the batch against history. Returns (new_id, seen_id,
    * jaccard) pairs at/above `threshold`.
    *
    * Scale shape: identical banding to [[minHashLsh]] — both sides post
    * narrow (id, band, bandhash) rows into an equi-join; the bucket cap is
    * computed on the SEEN side (the historical corpus carries the
    * boilerplate mass; a new batch rarely fills a bucket alone) BEFORE
    * the join; estimate-prefilter then exact Jaccard run only on
    * candidates. In steady state the seen side's signatures/bands are a
    * pre-materialized index table, so the incremental cost is one
    * signature pass over the BATCH plus joins sized by the batch.
    */
  def minHashLshAgainstCorpus(newDocs: DataFrame, seenDocs: DataFrame,
                              idCol: String, textCol: String,
                              bands: Int = 4, rowsPerBand: Int = 4,
                              threshold: Double = 0.7,
                              maxBucket: Int = 1000,
                              estPrefilter: Boolean = true): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Consumer count decides the pins (the SetSimJoin lesson, corrected
    // by a measured A/B on the recall posture — BASELINE round 14):
    // the SEEN side's band rows feed both the bucket-size agg and the
    // candidate join, so seenSig always pins (dropping it measured
    // 7.25 → 7.98 s at 100× — the signature pass re-ran); the NEW
    // side's signatures feed banding plus the estimate join, so under
    // the recall posture (estPrefilter = false) they have ONE consumer
    // and the pin would only spend block-manager space — corpus-sized
    // on the chunked-decontam path, where the "docs" are windows.
    // a NEW side above broadcast-safe size must never become a static
    // broadcast build side off its corrupted scan estimate (see
    // [[mergeIfBig]]); the seen side is pinned, so its stats are true
    val bigNew = newDocs.count() > BroadcastSafeRows
    val newSigRaw = signatures(newDocs, idCol, textCol, numHashes)
    val newSig = if (estPrefilter) newSigRaw.localCheckpoint() else newSigRaw
    val seenSig = signatures(seenDocs, idCol, textCol, numHashes).localCheckpoint()
    val seenBand = bandRows(seenSig, bands, rowsPerBand)
    val okBuckets = seenBand.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucket).select("band", "bh")
    val candidates = mergeIfBig(bandRows(newSig, bands, rowsPerBand), bigNew)
      .select(col("band"), col("bh"), col("id").as("new_id"))
      .join(seenBand.join(okBuckets, Seq("band", "bh"))
        .select(col("band"), col("bh"), col("id").as("seen_id")), Seq("band", "bh"))
      .filter(col("new_id") =!= col("seen_id")) // overlapping id spaces allowed
      .select("new_id", "seen_id").distinct()
    val slack = estSlack(threshold, numHashes)
    val sigEst =
      if (!estPrefilter) candidates // recall posture (see minHashLsh)
      else candidates
        .join(newSig.select(col("id").as("new_id"), col("sig").as("sig_a")), "new_id")
        .join(seenSig.select(col("id").as("seen_id"), col("sig").as("sig_b")), "seen_id")
        .withColumn("est",
          size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x)) /
            lit(numHashes.toDouble))
        .filter(col("est") >= slack)
        .select("new_id", "seen_id")
    val newToks = mergeIfBig(newDocs.select(col(idCol).as("new_id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("toks_a")), bigNew)
    // the SEEN side's verification tokens derive from raw text (unlike
    // its band rows, which come off the PINNED signature table with
    // true stats) — guard them too; the seen side is history-sized for
    // the dedup-ingest callers even though decontam keeps it small.
    // seenSig is materialized, so this count is block-manager cheap.
    val bigSeen = seenSig.count() > BroadcastSafeRows
    val seenToks = mergeIfBig(seenDocs.select(col(idCol).as("seen_id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("toks_b")), bigSeen)
    sigEst.join(newToks, "new_id").join(seenToks, "seen_id")
      .select(col("new_id"), col("seen_id"),
        jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // -------------------------------------------------------------------
  // Persistent near-dup index (the "steady state" the incremental
  // operators' scaladocs assume, made concrete)
  // -------------------------------------------------------------------

  /** The seen-corpus near-dup index as a DataFrame: (id, sig, toks) —
    * MinHash signature for banding + estimate, distinct token set for
    * exact verification. One narrow pass over the corpus; text never
    * enters the index (toks are the only derivative kept, and they are
    * what verification needs anyway).
    */
  def nearDupIndex(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), col(textCol).as("t"),
        TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col("id"),
        graft.functions.MinHashSig.sig(
          TextAnalysis.shinglesFromTokens(col("t"), col("tk")), numHashes).as("sig"),
        array_distinct(col("tk")).as("toks"))

  /** Persist the index (overwrite = full rebuild; callers append ingest
    * batches with `mode("append")` through [[appendNearDupIndex]]). At
    * 100 TB this table is the difference between "one signature pass
    * per batch" and "re-hash the whole corpus per batch".
    */
  def writeNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, path: String): Unit =
    NioLocalFileSystem.write(nearDupIndex(docs, idCol, textCol, numHashes))
      .mode("overwrite").parquet(path)

  /** Append an accepted ingest batch to the index — the post-dedup step
    * of the production loop (check batch against index → keep survivors
    * → append survivors to index).
    */
  def appendNearDupIndex(docs: DataFrame, idCol: String, textCol: String,
                         numHashes: Int, path: String): Unit =
    NioLocalFileSystem.write(nearDupIndex(docs, idCol, textCol, numHashes))
      .mode("append").parquet(path)

  /** Delete documents from the stored index WITHOUT rebuild — the erase
    * verb the BM25 and IVF indexes already have (takedowns, retention,
    * re-curation). Ids land in the append-only sibling dir
    * `<path>.tombstones` (a subdirectory inside the flat index table
    * would break plain parquet reads and the compaction pass;
    * [[graft.similarity.Ivf]] nests its tombstones only because its
    * layout is already multi-dir), and [[readNearDupIndex]] anti-joins
    * them out. Idempotent by construction — an anti-join doesn't care
    * how many tombstone rows an id has; a compaction-time rewrite of
    * the live rows folds them in physically later.
    */
  def deleteFromNearDupIndex(ids: DataFrame, path: String,
                             idCol: String = "id"): Unit =
    // tombstones keep the caller's id type: the index verbs are id-type
    // generic, and casting (say) string ids to long here would yield
    // NULL tombstones whose anti-join never matches — a takedown that
    // silently becomes a no-op
    NioLocalFileSystem.write(ids.select(col(idCol).as("id")).distinct())
      .mode("append").parquet(s"$path.tombstones")

  /** Load the stored index minus tombstones — THE read path for index
    * queries (identical to a plain read until the first delete; the
    * tombstone side is takedown-sized, so the anti-join broadcasts).
    */
  def readNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame = {
    val df = Tables.parquet(spark, path)
    val t = new org.apache.hadoop.fs.Path(s"$path.tombstones")
    if (!t.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(t)) df
    else df.join(broadcast(Tables.parquet(spark, s"$path.tombstones")),
      Seq("id"), "left_anti")
  }

  /** [[minHashLshAgainstCorpus]] against a PRE-MATERIALIZED index
    * ([[nearDupIndex]] schema) instead of raw seen documents: the seen
    * side contributes zero signature work — band rows, estimate slots
    * and verification tokens all come off the stored table, so the
    * incremental cost is one signature pass over the BATCH plus joins
    * sized by the batch. Semantics identical to the from-raw form
    * (spec-pinned); `numHashes` is implied by the stored signatures and
    * must equal `bands × rowsPerBand`.
    */
  def minHashLshAgainstIndex(newDocs: DataFrame, index: DataFrame,
                             idCol: String, textCol: String,
                             bands: Int = 4, rowsPerBand: Int = 4,
                             threshold: Double = 0.7,
                             maxBucket: Int = 1000,
                             estPrefilter: Boolean = true): DataFrame = {
    val numHashes = bands * rowsPerBand
    val newSigRaw = signatures(newDocs, idCol, textCol, numHashes)
    // banding is the only consumer under the recall posture — no pin
    val newSig = if (estPrefilter) newSigRaw.localCheckpoint() else newSigRaw
    val seenSig = index.select(col("id"), col("sig"))
    val seenBand = bandRows(seenSig, bands, rowsPerBand)
    val okBuckets = seenBand.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucket).select("band", "bh")
    val candidates = bandRows(newSig, bands, rowsPerBand)
      .select(col("band"), col("bh"), col("id").as("new_id"))
      .join(seenBand.join(okBuckets, Seq("band", "bh"))
        .select(col("band"), col("bh"), col("id").as("seen_id")), Seq("band", "bh"))
      .filter(col("new_id") =!= col("seen_id"))
      .select("new_id", "seen_id").distinct()
    val slack = estSlack(threshold, numHashes)
    val sigEst =
      if (!estPrefilter) candidates // recall posture (see minHashLsh)
      else candidates
        .join(newSig.select(col("id").as("new_id"), col("sig").as("sig_a")), "new_id")
        .join(seenSig.select(col("id").as("seen_id"), col("sig").as("sig_b")), "seen_id")
        .withColumn("est",
          size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x)) /
            lit(numHashes.toDouble))
        .filter(col("est") >= slack)
        .select("new_id", "seen_id")
    val newToks = newDocs.select(col(idCol).as("new_id"),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("toks_a"))
    val seenToks = index.select(col("id").as("seen_id"), col("toks").as("toks_b"))
    sigEst.join(newToks, "new_id").join(seenToks, "seen_id")
      .select(col("new_id"), col("seen_id"),
        jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** A stored near-dup index resolved ONCE for a whole stream/session:
    * the seen side's band rows derived, capped and pinned, signatures
    * and verification tokens pinned — the [[graft.similarity.Ann
    * .EmbedIndexHandle]] pattern for the MinHash family. Without it
    * every streaming micro-batch re-derives seenBand (a bands-×
    * explode over the WHOLE index) and re-aggregates the bucket caps —
    * O(index) invariant work per batch. Scale note: the handle pins the
    * index in executor storage (memory, spilling to local disk) — the
    * right trade for a stream probing the same index every micro-batch;
    * a one-shot probe should keep using [[minHashLshAgainstIndex]].
    */
  final case class SeenIndexHandle private[dedup] (
      bands: Int, rowsPerBand: Int, maxBucket: Int,
      seenBand: DataFrame, seenSig: DataFrame, seenToks: DataFrame)

  /** Resolve a stored near-dup index ([[writeNearDupIndex]] layout,
    * tombstones honored at open time) into a [[SeenIndexHandle]]. */
  def openNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, bands: Int = 4, rowsPerBand: Int = 4,
                       maxBucket: Int = 1000): SeenIndexHandle = {
    val index = readNearDupIndex(spark, path).localCheckpoint()
    // fail fast on geometry mismatch: this index family stores no meta
    // (unlike the bench index), so a caller passing bands/rowsPerBand
    // that don't factor the stored signature length would silently get
    // wrong band rows. One head row is enough — every signature in a
    // store has the same length by construction (ADVICE r16).
    index.select(size(col("sig"))).head(1).foreach { r =>
      val sigLen = r.getInt(0)
      require(bands * rowsPerBand == sigLen,
        s"openNearDupIndex($path): bands=$bands x rowsPerBand=$rowsPerBand " +
          s"= ${bands * rowsPerBand} does not match stored signature length $sigLen")
    }
    handleFromIndexTable(index, bands, rowsPerBand, maxBucket)
  }

  /** Resolve a RAW seen corpus into a [[SeenIndexHandle]] — the from-raw
    * analogue of [[openNearDupIndex]] for a stream gating against a
    * STATIC in-session corpus with no stored index: ONE signature pass
    * over the seen side at stream start (instead of one inside every
    * micro-batch, which is what per-batch [[minHashLshAgainstCorpus]]
    * pays), bucket caps, all three seen tables pinned, the band side
    * pre-partitioned on the join key. Identical pairs to the per-batch
    * form: same banding, same seen-side caps, and the verification token
    * law (`array_distinct(tokens(text))`) is [[nearDupIndex]]'s — the
    * same expression the per-batch form computes from raw text.
    */
  def openNearDupCorpus(seenDocs: DataFrame, idCol: String, textCol: String,
                        bands: Int = 4, rowsPerBand: Int = 4,
                        maxBucket: Int = 1000): SeenIndexHandle =
    handleFromIndexTable(
      nearDupIndex(seenDocs, idCol, textCol, bands * rowsPerBand).localCheckpoint(),
      bands, rowsPerBand, maxBucket)

  /** Shared staging tail of [[openNearDupIndex]] / [[openNearDupCorpus]]:
    * band + cap + pin the three seen tables off a materialized
    * (id, sig, toks) index table.
    */
  private def handleFromIndexTable(index: DataFrame, bands: Int,
                                   rowsPerBand: Int,
                                   maxBucket: Int): SeenIndexHandle = {
    val seenBandAll = bandRows(index.select(col("id"), col("sig")), bands, rowsPerBand)
    val okBuckets = seenBandAll.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucket).select("band", "bh")
    val seenBand = seenBandAll.join(okBuckets, Seq("band", "bh"))
      // pre-partition by the candidate join's key: only the batch side
      // shuffles per micro-batch
      .repartition(col("band"), col("bh")).localCheckpoint()
    val seenSig = index.select(col("id").as("seen_id"), col("sig").as("sig_b"))
      .localCheckpoint()
    val seenToks = index.select(col("id").as("seen_id"), col("toks").as("toks_b"))
      .localCheckpoint()
    SeenIndexHandle(bands, rowsPerBand, maxBucket, seenBand, seenSig, seenToks)
  }

  /** [[minHashLshAgainstIndex]] against a pre-resolved
    * [[SeenIndexHandle]] — identical pairs (same banding, caps and live
    * set), per-call cost only batch work: one signature pass over the
    * batch, the band equi-join against the cached capped bench side,
    * estimate prefilter and exact Jaccard on candidates.
    */
  def minHashLshAgainstHandle(newDocs: DataFrame, h: SeenIndexHandle,
                              idCol: String, textCol: String,
                              threshold: Double = 0.7,
                              estPrefilter: Boolean = true): DataFrame = {
    val numHashes = h.bands * h.rowsPerBand
    // under the default (est-prefilter) posture the pin that existed
    // anyway now carries the verification TOKEN SETS too ([[nearDupIndex]]
    // shape): one tokenize pass over the batch instead of two — the
    // signature pass and the exact-verify newToks scan were separate
    // full-text passes per micro-batch (guide §2.4). Laws unchanged:
    // toks = array_distinct(tokens(text)) is exactly what newToks
    // computed from raw text. The recall posture (estPrefilter = false)
    // keeps the pin-free shape — its "docs" are corpus-sized windows on
    // the chunked-decontam path, where a pin is the wrong trade.
    val newIdx =
      if (estPrefilter)
        nearDupIndex(newDocs, idCol, textCol, numHashes).localCheckpoint()
      else null
    val newSig =
      if (estPrefilter) newIdx.select(col("id"), col("sig"))
      else signatures(newDocs, idCol, textCol, numHashes)
    val candidates = bandRows(newSig, h.bands, h.rowsPerBand)
      .select(col("band"), col("bh"), col("id").as("new_id"))
      .join(h.seenBand.select(col("band"), col("bh"), col("id").as("seen_id")),
        Seq("band", "bh"))
      .filter(col("new_id") =!= col("seen_id"))
      .select("new_id", "seen_id").distinct()
    val slack = estSlack(threshold, numHashes)
    val sigEst =
      if (!estPrefilter) candidates
      else candidates
        .join(newSig.select(col("id").as("new_id"), col("sig").as("sig_a")), "new_id")
        .join(h.seenSig, "seen_id")
        .withColumn("est",
          size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x)) /
            lit(numHashes.toDouble))
        .filter(col("est") >= slack)
        .select("new_id", "seen_id")
    val newToks =
      if (estPrefilter)
        newIdx.select(col("id").as("new_id"), col("toks").as("toks_a"))
      else newDocs.select(col(idCol).as("new_id"),
        array_distinct(TextAnalysis.tokens(col(textCol))).as("toks_a"))
    sigEst.join(newToks, "new_id").join(h.seenToks, "seen_id")
      .select(col("new_id"), col("seen_id"),
        jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The filter form of [[minHashLshAgainstCorpus]]: the new batch minus
    * documents near-duplicating anything already seen — what an ingest
    * pipeline actually composes after [[dedupAgainstCorpus]] has removed
    * the exact copies.
    */
  def dedupNearAgainstCorpus(newDocs: DataFrame, seenDocs: DataFrame,
                             idCol: String, textCol: String,
                             bands: Int = 4, rowsPerBand: Int = 4,
                             threshold: Double = 0.7,
                             maxBucket: Int = 1000): DataFrame = {
    val dup = minHashLshAgainstCorpus(newDocs, seenDocs, idCol, textCol,
      bands, rowsPerBand, threshold, maxBucket)
      .select(col("new_id")).distinct()
    newDocs.join(dup, newDocs(idCol) === dup("new_id"), "left_anti")
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens, as a single aggregation:
    * explode tokens → per-bit ±1 contributions from each token's md5
    * → sum per (doc, bit) → sign → reassemble. Two groupings but both on
    * the doc id, so one shuffle; the 64 bit-sums are one wide agg row.
    *
    * One md5 per token supplies all 64 bits: bits 0..59 from [[md5Long]]
    * (hex chars 1-15), bits 60..63 from the 16th hex char — so the whole
    * construction replays in DuckDB and the simhash keeps full 64-bit
    * entropy (no structurally-dead bits to weaken the blocked join keys in
    * [[simHashNearDups]]). Bit sums are over disjoint powers of two, so
    * the reassembling sum is exactly bitwise-or — no carries, no ANSI
    * overflow even with bit 63 (= Long.MinValue) present.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      // fused h1 | h2<<60 ([[graft.functions.Md5Long64]]) — bit-identical
      // to the hex-staged (h1, h2) split this replaced
      .select(col("id"), graft.functions.Md5Long.md5Long64(col("tok")).as("h"))
    val bitSums = (0 until 64).map { i =>
      val bit = col("h").bitwiseAND(lit(1L << i))
      sum(when(bit =!= 0L, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = tok.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val hashExpr = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("id"), hashExpr.as("simhash"))
  }

  /** Partition of the 64 SimHash bits into `nBlocks` contiguous blocks
    * covering ALL bits (widths differ by at most 1). Full coverage keeps
    * every bit contributing to some join key; the pigeonhole recall
    * guarantee needs only that the blocks are disjoint.
    */
  private def blockBounds(nBlocks: Int): Seq[(Int, Int)] = {
    val base = 64 / nBlocks
    val rem = 64 % nBlocks
    val widths = Seq.tabulate(nBlocks)(i => if (i < rem) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths) // (offset, width)
  }

  private def blockVal(sim: Column, offset: Int, width: Int): Column =
    shiftrightunsigned(sim, offset).bitwiseAND((1L << width) - 1)

  /** Near-dup pairs among SimHashes with Hamming distance ≤ `maxHamming`,
    * by pigeonhole blocking — never all-pairs. Two regimes, chosen by the
    * radius so the join key never drops below ~8 bits of entropy (a
    * narrower key collapses the blocked join toward all-pairs at corpus
    * scale — n²/2^width candidates):
    *
    *  - `maxHamming ≤ 7`: split 64 bits into `maxHamming + 1` blocks
    *    (width ≥ 8); a pair within the radius has ≤ maxHamming differing
    *    bits spread over more blocks, so ≥ 1 block matches exactly.
    *  - `8 ≤ maxHamming ≤ 14`: combination signatures — `maxHamming + 2`
    *    blocks; ≤ maxHamming spoiled blocks leave ≥ 2 agreeing, so at
    *    least one block PAIR matches. The join key is a pair of blocks
    *    (≥ 8 bits combined); each doc emits C(nBlocks, 2) combo rows —
    *    more rows than single-block, but per-bucket population shrinks by
    *    2^width, the quadratic term.
    *
    * Radii > 14 would need triple combinations to keep key entropy and are
    * rejected: at Hamming 15+ of 64 the signal is mostly noise anyway.
    * Both regimes are exact w.r.t. recall: candidates are a superset of
    * the true pairs, then filtered by the exact Hamming distance.
    */
  /** Pigeonhole block keys for a Hamming radius — the shared machinery
    * of [[simHashNearDups]] and [[simHashNearDupsAgainstCorpus]].
    */
  private def hammingBlockKeys(maxHamming: Int): Seq[Column] = {
    require(maxHamming >= 0 && maxHamming <= 14,
      s"maxHamming=$maxHamming unsupported: ≤7 uses single-block joins, 8..14 " +
        "two-block combinations; beyond 14 the join key entropy collapses")
    val combine = maxHamming >= 8
    val nBlocks = if (combine) maxHamming + 2 else maxHamming + 1
    val bounds = blockBounds(nBlocks)
    if (!combine)
      bounds.zipWithIndex.map { case ((off, w), b) =>
        struct(lit(b).as("blk"), blockVal(col("simhash"), off, w).as("bv"),
          lit(0L).as("bv2"))
      }
    else
      (for {
        i <- 0 until nBlocks; j <- (i + 1) until nBlocks
      } yield {
        val (oi, wi) = bounds(i)
        val (oj, wj) = bounds(j)
        struct(lit(i * nBlocks + j).as("blk"),
          blockVal(col("simhash"), oi, wi).as("bv"),
          blockVal(col("simhash"), oj, wj).as("bv2"))
      })
  }

  private def hammingBlocked(sims: DataFrame, keys: Seq[Column]): DataFrame =
    sims.select(col("id"), col("simhash"), explode(array(keys: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.blk"), col("bb.bv"), col("bb.bv2"))

  def simHashNearDups(sims: DataFrame, maxHamming: Int = 3): DataFrame = {
    // PIN the (id, 64-bit) hash table: the self-join consumes it twice
    // (so the hash computation — or an upstream media decode, for the
    // perceptual-hash callers — would otherwise run once per side), and
    // materialized stats are TRUE sizes, so the static planner can never
    // pick a corpus-sized build side off a corrupted scan estimate (the
    // r15 [[mergeIfBig]] hazard; narrow rows make the pin block-manager
    // cheap at any corpus size)
    val pinned = sims.localCheckpoint()
    val blocked = hammingBlocked(pinned, hammingBlockKeys(maxHamming))
    val l = blocked.select(col("blk"), col("bv"), col("bv2"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val r = blocked.select(col("blk"), col("bv"), col("bv2"), col("id").as("id_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("blk", "bv", "bv2"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Incremental SimHash near-dup: each NEW hash checked against the
    * SEEN corpus's hashes — the ingest-batch form [[minHashLshAgainstCorpus]]
    * and [[dedupAgainstCorpus]] already have, completing the family (a
    * daily batch must never re-near-dedup history against itself). Also
    * the incremental read path for the PERCEPTUAL hashes
    * ([[graft.multimodal.Multimodal.imageAHashes]] /
    * `audioFingerprints` — same 64-bit shape): store the corpus's
    * hashes once, check each batch against the stored table.
    *
    * Same pigeonhole guarantee and scale shape as [[simHashNearDups]]:
    * both sides post (id, block-key) rows into an equi-join — blocked,
    * never all-pairs; candidates superset the true pairs and the exact
    * Hamming filter runs on candidates only. Overlapping id spaces are
    * allowed (equal ids are skipped, the [[minHashLshAgainstCorpus]]
    * convention). Returns (new_id, seen_id, hamming).
    */
  def simHashNearDupsAgainstCorpus(newSims: DataFrame, seenSims: DataFrame,
                                   maxHamming: Int = 3): DataFrame = {
    // PIN both narrow hash tables: true materialized stats mean the
    // static planner can never broadcast a corpus-sized side off a
    // corrupted scan estimate (the r15 [[mergeIfBig]] hazard), and the
    // join computes each side's hashes exactly once
    val keys = hammingBlockKeys(maxHamming)
    val l = hammingBlocked(newSims.localCheckpoint(), keys)
      .select(col("blk"), col("bv"), col("bv2"), col("id").as("new_id"), col("simhash").as("sh_a"))
    val r = hammingBlocked(seenSims.localCheckpoint(), keys)
      .select(col("blk"), col("bv"), col("bv2"), col("id").as("seen_id"), col("simhash").as("sh_b"))
    l.join(r, Seq("blk", "bv", "bv2"))
      .filter(col("new_id") =!= col("seen_id"))
      .select(col("new_id"), col("seen_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Partition key for the STORED simhash index: block id × a hash of
    * the block value, folded into `parts` cells per block. Placement
    * only — results never depend on it: a candidate pair shares an
    * entire (blk, bv, bv2) key exactly (the pigeonhole guarantee), so
    * it shares the pkey too, and a probe can prune the store to the
    * pkeys its own postings land in.
    */
  private def simIndexPKey(parts: Int): Column =
    col("blk") * parts +
      pmod(xxhash64(lit("simidx"), col("blk"), col("bv"), col("bv2")), lit(parts.toLong))

  private def simIndexPostings(sims: DataFrame, maxHamming: Int, parts: Int): DataFrame =
    hammingBlocked(sims, hammingBlockKeys(maxHamming))
      .withColumn("pkey", simIndexPKey(parts))

  /** Persist a SimHash/perceptual-hash near-dup index: posting rows
    * (id, simhash, blk, bv, bv2) under `path/post` PARTITIONED BY a
    * Hamming-block pkey, plus `path/meta` = (maxhamming, parts) so
    * probes derive the exact stored blocking (no caller knob can
    * mismatch) — the [[graft.similarity.Ann.writeEmbedNearDupIndex]]
    * pattern applied to the 64-bit Hamming families (text SimHash,
    * image aHash/pHash, audio fingerprints). Without it, every ingest
    * batch re-reads and re-blocks the FULL hash history
    * (O(history) per micro-batch — the r15 MediaIngest gap); with it a
    * batch's probe partition-prunes to the pkeys the batch itself
    * touches. Postings are 5 narrow columns ≈ 40 bytes × (nBlocks per
    * hash) — tiny next to any media corpus.
    *
    * `batchId`: segments the postings under `batch_id=` for the
    * streaming retry rule (probes pin `batch_id < current`); None for a
    * one-shot build.
    */
  def writeSimHashIndex(sims: DataFrame, path: String, maxHamming: Int = 3,
                        parts: Int = 64, batchId: Option[Long] = None): Unit = {
    val spark = sims.sparkSession
    graft.ops.Segments.writer(
        simIndexPostings(sims, maxHamming, parts), "overwrite", batchId)
      // one file per (batch, pkey), not tasks × pkeys (the index fan-out rule)
      .partitionBy("batch_id", "pkey").parquet(s"$path/post")
    import spark.implicits._
    NioLocalFileSystem.write(Seq((maxHamming, parts)).toDF("maxhamming", "parts").coalesce(1))
      .mode("overwrite").parquet(s"$path/meta")
  }

  /** Append a batch's hashes to the stored simhash index with the STORED
    * blocking geometry — the admit step of the streaming media loop.
    * Dynamic overwrite of this batch's own partitions: a retried batch
    * replaces instead of double-appending (the [[graft.ops.Segments]]
    * contract).
    */
  /** `geometry` short-circuits the per-call meta read when the caller
    * already resolved (maxHamming, parts) — meta is immutable, so a
    * streaming loop resolves it ONCE at stream start instead of paying
    * a driver-side parquet job per micro-batch (three per batch in the
    * fused loop before the r16 hoist).
    */
  def appendSimHashIndex(sims: DataFrame, path: String, batchId: Long,
                         geometry: Option[(Int, Int)] = None): Unit = {
    val spark = sims.sparkSession
    val (mh, parts) = geometry.getOrElse {
      val meta = Tables.parquet(spark, s"$path/meta").collect().head
      (meta.getAs[Int]("maxhamming"), meta.getAs[Int]("parts"))
    }
    graft.ops.Segments.writer(
        simIndexPostings(sims, mh, parts), "append", Some(batchId))
      .partitionBy("batch_id", "pkey").parquet(s"$path/post")
  }

  /** Fold the stored simhash index's per-batch posting segments into one
    * fold segment per pkey — the [[graft.streaming.ClusterIngest
    * .compactLabels]] pattern for the postings store (VERDICT r16 #4):
    * without it every steady micro-batch pays partitioned-store listing
    * + one small-file open per (touched pkey × stored batch), the ~4-5
    * s/batch constant MediaIndexProbe measured growing linearly in
    * stream age. Folds the base (-1), committed batches `< upTo` and
    * earlier folds into `batch_id = -10 - maxFoldedBatch` — negative,
    * so every `batch_id < b` probe still sees the folded history and a
    * replayed batch reads the identical index. Crash-safe in the
    * compactLabels way: a fold that wrote but failed to delete its
    * sources is finished (delete-only) on the next call, and the
    * full-row dropDuplicates on the fold write makes a half-cleaned
    * overlap harmless. Returns segments folded; no-ops (0) when there
    * is nothing new — in particular it never folds fold-only stores,
    * so the target id can never collide with a completed fold.
    */
  def compactSimHashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, upTo: Long): Int = {
    import org.apache.hadoop.fs.{Path => HPath}
    val post = s"$path/post"
    val hPost = new HPath(post)
    val fs = hPost.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPost)) return 0
    val segIds = fs.listStatus(hPost).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    val foldable = segIds
      .filter(n => (n >= 0 && n < upTo) || n == -1L || n <= -10L).sorted
    val positives = foldable.filter(_ >= 0)
    if (foldable.size < 2 || positives.isEmpty) return 0
    val targetId = -10L - positives.max
    val target = s"$post/batch_id=$targetId"
    val srcIds = foldable.filterNot(_ == targetId)
    val srcDirs = srcIds.map(n => s"$post/batch_id=$n")
    if (fs.exists(new HPath(s"$target/_SUCCESS"))) {
      srcDirs.foreach(p => fs.delete(new HPath(p), true))
      return srcIds.size
    }
    val folded = Tables.parquetPaths(spark, srcDirs, Map("basePath" -> post))
      .drop("batch_id")
      // full-row dedupe: a crash between an earlier fold's write and its
      // source delete leaves overlapping segments; pairs stay correct
      // either way (the probe ends in distinct()) but the fold must not
      // bake the duplication into storage
      .dropDuplicates()
      // one task — and so one file — per pkey directory: the fold's whole
      // point is replacing per-(batch × pkey) file piles with one file
      .repartition(col("pkey"))
    NioLocalFileSystem.write(folded).mode("overwrite").partitionBy("pkey").parquet(target)
    srcDirs.foreach(p => fs.delete(new HPath(p), true))
    srcIds.size
  }

  /** [[simHashNearDupsAgainstCorpus]] against the STORED index: the
    * seen side's posting rows come pre-blocked off `path/post`,
    * partition-pruned to the pkeys the batch's own postings touch —
    * per-batch cost tracks the touched slice of history, not all of it.
    * `beforeBatch` pins `batch_id < b` (a streaming retry must not see
    * its own partial rows — the ClusterIngest convention). Identical
    * pairs to the from-raw detector by construction: same blocking from
    * stored meta, same exact Hamming filter on candidates.
    */
  def simHashNearDupsAgainstIndex(newSims: DataFrame, path: String,
                                  beforeBatch: Option[Long] = None,
                                  geometry: Option[(Int, Int)] = None): DataFrame = {
    val spark = newSims.sparkSession
    val (maxHamming, parts) = geometry.getOrElse {
      val meta = Tables.parquet(spark, s"$path/meta").collect().head
      (meta.getAs[Int]("maxhamming"), meta.getAs[Int]("parts"))
    }
    // two consumers (pkey list + candidate join) and true stats
    val l = simIndexPostings(newSims.localCheckpoint(), maxHamming, parts)
      .select(col("pkey"), col("blk"), col("bv"), col("bv2"),
        col("id").as("new_id"), col("simhash").as("sh_a"))
      .localCheckpoint()
    // pkey space is nKeys × parts (e.g. 4 × 64 = 256 at radius 3) — the
    // distinct list is always collectable
    val touched = l.select("pkey").distinct().collect().map(_.getLong(0))
    val post = Tables.parquet(spark, s"$path/post")
    val sliced = beforeBatch.map(b => post.filter(col("batch_id") < b)).getOrElse(post)
    val pkeyLits: Seq[Any] =
      if (sliced.schema("pkey").dataType == org.apache.spark.sql.types.IntegerType)
        touched.map(_.toInt).toSeq
      else touched.toSeq
    val r = sliced.filter(col("pkey").isin(pkeyLits: _*)) // partition prune
      .select(col("blk"), col("bv"), col("bv2"),
        col("id").as("seen_id"), col("simhash").as("sh_b"))
    l.join(r, Seq("blk", "bv", "bv2"))
      .filter(col("new_id") =!= col("seen_id"))
      .select(col("new_id"), col("seen_id"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
