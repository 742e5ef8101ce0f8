package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.NearDup
import graft.io.NioLocalFileSystem
import graft.ops.Tables

/** Benchmark decontamination for training corpora: flag training documents
  * whose token n-grams overlap an evaluation/benchmark set (the exact-match
  * n-gram method used to decontaminate GPT-3/Pile-style corpora).
  *
  * Scale shape: n-grams travel as distinct 60-bit md5-derived hashes
  * ([[NearDup.md5Long]]), so the contamination join shuffles (id, 8-byte
  * hash) rows — never document text — and the benchmark side is
  * distinct-reduced before the join. Real eval sets are tiny next to a
  * 100 TB corpus, so AQE turns that join side into a broadcast by itself;
  * nothing here assumes it (a "benchmark" as large as the corpus still
  * runs as a plain hash join).
  */
object Decontaminate {

  /** Token n-gram strings ("a b c" for n=3) from a token array column,
    * via the codegen'd [[graft.functions.NgramArray]] expression (the
    * interpreted higher-order-function formulation measured ~30× slower —
    * see that expression's scaladoc). Documents with fewer than `n` tokens
    * yield an empty array: a doc too short to have any n-gram cannot be
    * n-gram-contaminated.
    */
  def ngramsFromTokens(toks: Column, n: Int): Column =
    graft.functions.NgramArray.ngrams(toks, n)

  /** Distinct (id, gram-hash) pairs per document: tokens and grams staged
    * as separate projections, md5 applied per exploded gram row (codegen'd,
    * not under a lambda).
    */
  def ngramHashes(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col("id"), ngramsFromTokens(col("tk"), n).as("g"))
      .select(col("id"), explode(col("g")).as("gram"))
      .select(col("id"), NearDup.md5Long(col("gram")).as("gh"))
      .distinct()

  /** Per-training-document contamination report against `bench`:
    * (id, n_grams, n_hits, overlap, contaminated) where `n_hits` counts the
    * training doc's distinct n-grams that appear anywhere in the benchmark
    * set, `overlap` = n_hits / n_grams, and `contaminated` flags docs with
    * at least `minHits` matching n-grams. Every training id appears in the
    * output (docs shorter than n tokens report 0 grams / clean), so the
    * result can drive an anti-join filter directly.
    */
  def flagContaminated(train: DataFrame, bench: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 13, minHits: Long = 1L): DataFrame = {
    val trainGrams = ngramHashes(train, idCol, textCol, n)
    val benchGrams = ngramHashes(bench, idCol, textCol, n)
      .select("gh").distinct().withColumn("hit", lit(1))
    // ONE pass over the training grams: a left join against the distinct
    // benchmark hashes (no row multiplication — benchGrams is unique on
    // gh) marks each gram, and a single aggregate yields both the total
    // and the hit count. The naive two-branch form (totals + hits as
    // separate aggregations joined back) recomputes the whole
    // tokenize→ngram→distinct chain twice — at 100 TB that is a second
    // full corpus pass for nothing.
    val counts = trainGrams.join(benchGrams, Seq("gh"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_grams"),
        count(col("hit")).as("n_hits"))
    // the per-doc counts table is corpus-sized; its static estimate is
    // not (r15 NearDup.mergeIfBig hazard) — the left join builds RIGHT,
    // so an unguarded plan would broadcast it at scale
    val big = train.count() > NearDup.BroadcastSafeRows
    train.select(col(idCol).as("id"))
      .join(NearDup.mergeIfBig(counts, big), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(try_divide(col("n_hits"), col("n_grams")), lit(0.0)), 6).as("overlap"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /** [[flagContaminated]] with a Bloom prefilter on the contamination
    * join — the 100 TB shape. The exact form shuffles EVERY training
    * (id, gram-hash) row into the hash join even though almost none match
    * a benchmark gram; here a Bloom filter built over the benchmark
    * hashes (driver-side `df.stat.bloomFilter`, a few hundred MB of bits
    * even for 10⁹ grams at 1% fpp) is evaluated per training gram inside
    * the scan stage ([[graft.functions.BloomMightContainLong]], codegen'd),
    * so only the surviving fraction — true hits plus ~fpp of the rest —
    * reaches the exchange. The survivors are then exact-confirmed against
    * the real benchmark set, so false positives never reach the result:
    * output is row-identical to [[flagContaminated]] (same oracle SQL).
    *
    * Costs vs the exact form, stated honestly: the tokenize→ngram chain
    * runs twice over the training side (once for per-doc totals, once for
    * the prefiltered hit join) — both passes are scan-stage codegen with
    * map-side partial aggregation, trading recompute (cheap, no exchange)
    * for shuffle volume (the bottleneck); and building the filter is one
    * extra action over the benchmark side (count + sketch), negligible
    * when the benchmark is the small side — which is the contract (a
    * corpus-sized "benchmark" should use [[flagContaminated]] directly).
    */
  def bloomFlagContaminated(train: DataFrame, bench: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 13, minHits: Long = 1L,
                            fpp: Double = 0.01): DataFrame = {
    // the benchmark side is read three times (count for sizing, sketch
    // build, exact-confirm join) — persist the distinct hashes across the
    // two eager driver-side actions (count + bloomFilter) so the
    // tokenize→ngram chain runs once for them, then RELEASE the cache
    // before returning: a long-lived session calling this repeatedly must
    // not accumulate cached blocks it has no handle to drop. The lazy
    // exact-confirm join below recomputes the chain once at execution
    // time — the contract is a small benchmark side, so that recompute is
    // a scan-stage pass over the small side, not a corpus read.
    val benchGrams = ngramHashes(bench, idCol, textCol, n)
      .select("gh").distinct()
    benchGrams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom =
      try {
        val expected = math.max(benchGrams.count(), 1L)
        benchGrams.stat.bloomFilter("gh", expected, fpp)
      } finally benchGrams.unpersist(blocking = true)
    val trainGrams = ngramHashes(train, idCol, textCol, n)
    val totals = trainGrams.groupBy("id").agg(count(lit(1)).as("n_grams"))
    val hits = trainGrams
      .filter(graft.functions.BloomMightContainLong.mightContain(col("gh"), bloom))
      .join(benchGrams.withColumn("hit", lit(1)), Seq("gh"), "left")
      .groupBy("id").agg(count(col("hit")).as("n_hits"))
    // same r15 guard: totals and hits are per-doc corpus-sized tables
    // on the build side of left joins
    val big = train.count() > NearDup.BroadcastSafeRows
    train.select(col(idCol).as("id"))
      .join(NearDup.mergeIfBig(totals, big), Seq("id"), "left")
      .join(NearDup.mergeIfBig(hits, big), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(try_divide(col("n_hits"), col("n_grams")), lit(0.0)), 6).as("overlap"),
        (coalesce(col("n_hits"), lit(0L)) >= minHits).as("contaminated"))
  }

  /** The filter form: `train` minus contaminated docs — the operator a
    * pipeline actually composes ([[flagContaminated]] is the report form).
    */
  def removeContaminated(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 13, minHits: Long = 1L): DataFrame = {
    val bad = flagContaminated(train, bench, idCol, textCol, n, minHits)
      .filter(col("contaminated")).select(col("id"))
    train.join(bad, train(idCol) === bad("id"), "left_anti")
  }

  /** FUZZY decontamination: flag training documents that NEAR-match a
    * benchmark item by MinHash-LSH token-set Jaccard — the method the
    * exact n-gram pass cannot cover (a paraphrased or lightly-edited
    * benchmark answer shares few verbatim 13-grams but most of its token
    * set; fuzzy decontamination of this shape is standard practice in
    * public corpus releases). Returns one row per flagged training doc:
    * (id, n_bench_matches, max_jaccard).
    *
    * Built on [[NearDup.minHashLshAgainstCorpus]] (train = batch side,
    * bench = seen side, so the bucket cap and the steady-state index
    * reading both land on the benchmark). Train and benchmark ids live
    * in DIFFERENT id spaces, but the underlying operator drops
    * equal-id pairs (its two sides share one space by contract) — so
    * both sides are remapped to disjoint prefixed string ids ("t:…" /
    * "b:…") internally and the original-typed id is joined back at the
    * end; a train doc numerically sharing an id with a benchmark item
    * can therefore never be silently skipped.
    *
    * RECALL posture — decontamination's failure asymmetry is the
    * opposite of dedup's (a missed contaminated eval item poisons the
    * benchmark; an extra exact-verification is just compute), so this
    * wrapper is tuned for recall where the shared LSH machinery tunes
    * for cost: (1) default banding is 16 bands × 1 row — a pair
    * becomes a candidate when ANY signature slot agrees; (2) the
    * MinHash ESTIMATE prefilter is disabled ([[NearDup
    * .minHashLshAgainstCorpus]]'s `estPrefilter = false` knob — the
    * exact token-Jaccard ≥ `threshold` runs on every banded
    * candidate). The prefilter is unsafe for borderline
    * pairs under the Kirsch–Mitzenmacher double-hash family: slot
    * agreement is BIMODAL, not binomial — one unshared shingle whose
    * h2 is small can win every g_i = h1 + i·h2 minimum, so a pair with
    * true shingle-J ≈ 0.8 and token-J ≈ 0.92 can realize 1/16 agreeing
    * slots (measured; the recall spec pins it) and die at a filter
    * calibrated with the binomial 1.5/√n slack. Residual misses need
    * ZERO of 16 slots to agree.
    *
    * Scale shape: one signature pass per side; candidates are narrow
    * (id, bandhash) equi-joins with the cap on the bench side;
    * verification pays every banded candidate (the deliberate recall
    * trade — bounded by the bucket cap, and the bench side is tiny in
    * production). A real benchmark broadcasts under AQE; nothing here
    * assumes it.
    */
  def flagNearContaminated(train: DataFrame, bench: DataFrame,
                           idCol: String, textCol: String,
                           bands: Int = 16, rowsPerBand: Int = 1,
                           threshold: Double = 0.7,
                           maxBucket: Int = 1000): DataFrame = {
    def prefixed(df: DataFrame, p: String) =
      df.select(concat(lit(p), col(idCol).cast("string")).as("id"),
        col(textCol).as("text"))
    val pairs = NearDup.minHashLshAgainstCorpus(
      prefixed(train, "t:"), prefixed(bench, "b:"), "id", "text",
      bands, rowsPerBand, threshold, maxBucket, estPrefilter = false)
    val flagged = pairs.groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("jaccard")).as("max_jaccard"))
    // the id join-back must not broadcast a big train side off its
    // corrupted scan estimate (NearDup.mergeIfBig); flagged is
    // contamination-sized either way
    NearDup.mergeIfBig(
      train.select(col(idCol).as("id"),
        concat(lit("t:"), col(idCol).cast("string")).as("new_id")),
      train.count() > NearDup.BroadcastSafeRows)
      .join(flagged, "new_id")
      .select("id", "n_bench_matches", "max_jaccard")
  }

  // -------------------------------------------------------------------
  // Persistent benchmark index — the STEADY-STATE fuzzy-decontam loop:
  // benchmark sets change rarely, daily batches arrive constantly, so
  // the bench side's signature AND banding work is paid once at index
  // build and every batch pays only its own signature pass. Layout
  // (mirrors [[graft.text.Bm25]]'s pbucket scheme):
  //
  //   path/sig   : (id, sig, toks) partitioned by batch_id — the
  //                verification tokens and, for re-banding after a
  //                config change, the raw signatures
  //   path/bands : (id, band, bh) partitioned by (batch_id, bbucket)
  //                with bbucket = pmod(hash(bh), nBuckets) — a probe
  //                lists only the buckets its OWN band hashes land in
  //                (parquet partition pruning on a bounded-cardinality
  //                key), instead of scanning the full signature table
  //                per query batch (the round-13 design watch)
  //   path/meta  : one row (bands, rows_per_band, n_buckets) — the
  //                stored banding IS the probe banding; a mismatched
  //                probe fails loudly instead of silently hashing
  //                against different band boundaries
  //   path/tombstones : erased ids (append-only; anti-joined at read)
  //
  // Ids live in the prefixed "b:" space so a probe can never drop a
  // numeric id collision with a training doc (see
  // [[flagNearContaminated]]). Exactly-once: segments follow the
  // [[graft.ops.Segments]] batch_id convention.
  // -------------------------------------------------------------------

  private def bbucket(bh: Column, nBuckets: Int): Column =
    pmod(hash(bh), lit(nBuckets))

  private def benchPrefixed(bench: DataFrame, idCol: String, textCol: String) =
    bench.select(concat(lit("b:"), col(idCol).cast("string")).as("id"),
      col(textCol).as("text"))

  private def writeBenchSegment(bench: DataFrame, idCol: String, textCol: String,
                                path: String, bands: Int, rowsPerBand: Int,
                                nBuckets: Int, mode: String,
                                batchId: Option[Long]): Unit = {
    // one signature pass feeds both tables (sig write + band derivation)
    val idx = NearDup.nearDupIndex(
      benchPrefixed(bench, idCol, textCol), "id", "text", bands * rowsPerBand)
      .localCheckpoint()
    graft.ops.Segments.writer(idx, mode, batchId)
      .partitionBy("batch_id").parquet(s"$path/sig")
    // repartition ON bbucket before partitionBy — the Bm25 fan-out rule:
    // hashed-to-one-task buckets give ≈1 file per bucket per segment
    // instead of tasks × buckets
    val banded = NearDup.bandRows(idx.select("id", "sig"), bands, rowsPerBand)
      .withColumn("bbucket", bbucket(col("bh"), nBuckets))
      .repartition(col("bbucket"))
    graft.ops.Segments.writer(banded, mode, batchId)
      .partitionBy("batch_id", "bbucket").parquet(s"$path/bands")
  }

  /** Persist the benchmark index (overwrite = full rebuild; the banding
    * and bucket scheme are frozen into `path/meta` for appends/probes).
    */
  def writeBenchIndex(bench: DataFrame, idCol: String, textCol: String,
                      path: String, bands: Int = 16, rowsPerBand: Int = 1,
                      nBuckets: Int = 16): Unit = {
    val spark = bench.sparkSession
    writeBenchSegment(bench, idCol, textCol, path, bands, rowsPerBand,
      nBuckets, "overwrite", None)
    import spark.implicits._
    NioLocalFileSystem.write(
        Seq((bands, rowsPerBand, nBuckets)).toDF("bands", "rows_per_band", "n_buckets")
          .coalesce(1))
      .mode("overwrite").parquet(s"$path/meta")
  }

  /** The stored banding config — read once per append/probe (3 ints). */
  private def readBenchMeta(spark: org.apache.spark.sql.SparkSession,
                            path: String): (Int, Int, Int) = {
    val r = Tables.parquet(spark, s"$path/meta").collect().head
    (r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band"), r.getAs[Int]("n_buckets"))
  }

  /** Append new benchmark items (a refreshed eval set): banding/buckets
    * come off the stored meta so appended rows land in the same bucket
    * space. Pass `batchId` from a streaming [[graft.streaming.Ingest.drain]] batch for
    * exactly-once retries.
    */
  def appendBenchIndex(bench: DataFrame, idCol: String, textCol: String,
                       path: String, batchId: Option[Long] = None): Unit = {
    val (bands, rowsPerBand, nBuckets) = readBenchMeta(bench.sparkSession, path)
    writeBenchSegment(bench, idCol, textCol, path, bands, rowsPerBand,
      nBuckets, "append", batchId)
  }

  /** Erase benchmark items WITHOUT rebuild (a retired eval set): raw
    * bench ids land as "b:"-prefixed tombstones, anti-joined out of
    * every read. Idempotent ON DISK, not just in effect: ids already
    * tombstoned anti-join away before the append, so repeated deletes
    * (retry loops, re-played erasure requests) cannot grow the table —
    * it is bounded by the count of DISTINCT erased ids, which is
    * benchmark-sized, which is why [[minusBenchTombstones]] may safely
    * broadcast it.
    */
  def deleteFromBenchIndex(ids: DataFrame, path: String,
                           idCol: String = "doc_id"): Unit = {
    val spark = ids.sparkSession
    NioLocalFileSystem.write(minusBenchTombstones(spark,
        ids.select(concat(lit("b:"), col(idCol).cast("string")).as("id")).distinct(),
        path))
      .mode("append").parquet(s"$path/tombstones")
  }

  private def minusBenchTombstones(spark: org.apache.spark.sql.SparkSession,
                                   df: DataFrame, path: String): DataFrame = {
    val t = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    if (!t.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(t)) df
    // broadcast is safe: the table holds one row per distinct erased
    // benchmark id (deleteFromBenchIndex dedups against it before
    // appending), and benchmarks are model-sized by this module's
    // design contract
    else df.join(broadcast(Tables.parquet(spark, s"$path/tombstones")),
      Seq("id"), "left_anti")
  }

  /** [[flagNearContaminated]] against the stored benchmark index — the
    * same recall posture (banding per the STORED meta, estimate
    * prefilter disabled by construction, exact token-Jaccard on
    * verified pairs). The batch's band rows prune the stored band read
    * to their own buckets (parquet partition pruning — the probe never
    * scans the full signature table); bucket caps count live stored
    * rows per (band, bh), exact under pruning because a band hash lives
    * entirely inside one bucket. `bands × rowsPerBand` must match the
    * stored meta — a mismatch would silently band against different
    * boundaries, so it fails loudly instead (r13 ADVICE).
    */
  /** The shared probe core: (new_id, seen_id, jaccard) pairs between a
    * (PREFIXED string id, text) batch table and the stored benchmark
    * index — band the batch, prune the stored band read to the batch's
    * buckets, cap, candidate-join, exact-verify. Both the doc-level and
    * the chunked wrappers aggregate on top of this.
    */
  private def indexPairs(newDocs: DataFrame, indexPath: String,
                         bands: Int, rowsPerBand: Int,
                         threshold: Double, maxBucket: Int): DataFrame = {
    val spark = newDocs.sparkSession
    val (storedBands, storedRpb, nBuckets) = readBenchMeta(spark, indexPath)
    require(storedBands == bands && storedRpb == rowsPerBand,
      s"probe banding ${bands}x$rowsPerBand != stored index banding " +
        s"${storedBands}x$storedRpb at $indexPath — rebuild or re-band the index")
    // Bucket pruning is ADAPTIVE on batch size (r15, measured on the
    // production-shape probe — 10³-item benchmark under a 500k-doc
    // batch at 100×): a batch emits `bands` band rows per doc, so once
    // those rows outnumber the buckets ~4× essentially every bucket is
    // hit (expected empty fraction e^(−rows/buckets) ≈ 2%) and the
    // prune machinery — a localCheckpoint of the batch-sized band
    // table plus a distinct+collect over it — costs a full extra
    // materialization for zero pruning (52 s steady vs 21 s from-raw
    // before this cutover). Pruning is an optimization only (the
    // (band, bh) equi-join drops non-matching buckets anyway), so the
    // big-batch branch streams the single-consumer band rows straight
    // into the join; the small-batch branch (interactive probes, the
    // gate fixtures) keeps the static partition prune that makes a
    // small probe touch only its own buckets.
    val nNew = newDocs.count()
    val prune = nNew * bands < 4L * nBuckets
    // big batches must never become static broadcast build sides off
    // their corrupted scan estimates ([[graft.dedup.NearDup.mergeIfBig]])
    val bigNew = nNew > NearDup.BroadcastSafeRows
    val newSig = NearDup.signatures(newDocs, "id", "text",
      bands * rowsPerBand)
    val newBandRaw = NearDup.mergeIfBig(
      NearDup.bandRows(newSig, bands, rowsPerBand), bigNew)
      .withColumn("bbucket", bbucket(col("bh"), nBuckets))
    // small batch: the band table is consumed by TWO ACTIONS (the
    // bucket-list collect, then the candidate join) so it is pinned —
    // which also covers the signature work above it (AQE stage reuse
    // cannot span actions; round-13 rule)
    val newBand = if (prune) newBandRaw.localCheckpoint() else newBandRaw
    val seenBandRead =
      if (prune) {
        val buckets = newBand.select("bbucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        Tables.parquet(spark, s"$indexPath/bands")
          .filter(col("bbucket").isin(buckets: _*)) // static partition pruning
      } else Tables.parquet(spark, s"$indexPath/bands")
    val seenBand = minusBenchTombstones(spark,
      seenBandRead.drop("bbucket", "batch_id"), indexPath)
    val okBuckets = seenBand.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucket).select("band", "bh")
    val candidates = newBand
      .select(col("band"), col("bh"), col("id").as("new_id"))
      .join(seenBand.join(okBuckets, Seq("band", "bh"))
        .select(col("band"), col("bh"), col("id").as("seen_id")), Seq("band", "bh"))
      .select("new_id", "seen_id").distinct()
    // recall posture: NO estimate prefilter — exact token-Jaccard on
    // every banded candidate (see flagNearContaminated's scaladoc)
    val newToks = NearDup.mergeIfBig(
      newDocs.select(col("id").as("new_id"),
        array_distinct(graft.text.TextAnalysis.tokens(col("text"))).as("toks_a")),
      bigNew)
    val seenToks = minusBenchTombstones(spark,
        Tables.parquet(spark, s"$indexPath/sig"), indexPath)
      .select(col("id").as("seen_id"), col("toks").as("toks_b"))
    candidates
      .join(newToks, "new_id").join(seenToks, "seen_id")
      .select(col("new_id"), col("seen_id"),
        NearDup.jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** A stored benchmark index resolved ONCE for a whole stream/session:
    * banding constants plus both benchmark-side tables fully staged —
    * tombstones applied, over-cap buckets dropped, rows materialized.
    * Everything here is immutable for the handle's life, which is the
    * streaming token gate's contract (the [[graft.similarity.Ann
    * .EmbedIndexHandle]] pattern): the meta collect, tombstone
    * anti-joins, bucket-cap aggregation and index reads belong at
    * stream START, not in every micro-batch.
    */
  final case class BenchIndexHandle private[text] (
      bands: Int, rowsPerBand: Int, nBuckets: Int, maxBucket: Int,
      seenBand: DataFrame, seenToks: DataFrame)

  /** Resolve a stored benchmark index ([[writeBenchIndex]]) into a
    * [[BenchIndexHandle]]: one meta read, one staging pass over the
    * band and signature tables (tombstone anti-join + bucket cap), one
    * materialize each. The band side keeps its `bbucket` column so
    * small-batch probes can still narrow the cached table. Benchmark
    * indexes are benchmark-sized, so pinning both tables is cheap.
    */
  def openBenchIndex(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String,
                     maxBucket: Int = 1000): BenchIndexHandle = {
    val (bands, rowsPerBand, nBuckets) = readBenchMeta(spark, indexPath)
    val band0 = minusBenchTombstones(spark,
      Tables.parquet(spark, s"$indexPath/bands").drop("batch_id"), indexPath)
    val okBuckets = band0.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucket).select("band", "bh")
    val seenBand = band0.join(okBuckets, Seq("band", "bh"))
      // pre-partition by the candidate join's key: only the batch side
      // shuffles per micro-batch
      .repartition(col("band"), col("bh")).localCheckpoint()
    val seenToks = minusBenchTombstones(spark,
        Tables.parquet(spark, s"$indexPath/sig"), indexPath)
      .select(col("id").as("seen_id"), col("toks").as("toks_b"))
      .localCheckpoint()
    BenchIndexHandle(bands, rowsPerBand, nBuckets, maxBucket, seenBand, seenToks)
  }

  /** [[indexPairs]] against a pre-resolved [[BenchIndexHandle]] —
    * identical pairs (same banding, live set and caps), per-call cost
    * only batch work: signatures, band rows, the bucket equi-join
    * against the cached bench side, exact Jaccard on candidates.
    */
  private def indexPairsWithHandle(newDocs: DataFrame, h: BenchIndexHandle,
                                   threshold: Double, nNew: Long): DataFrame = {
    val prune = nNew * h.bands < 4L * h.nBuckets
    val bigNew = nNew > NearDup.BroadcastSafeRows
    val newSig = NearDup.signatures(newDocs, "id", "text",
      h.bands * h.rowsPerBand)
    val newBandRaw = NearDup.mergeIfBig(
      NearDup.bandRows(newSig, h.bands, h.rowsPerBand), bigNew)
      .withColumn("bbucket", bbucket(col("bh"), h.nBuckets))
    val newBand = if (prune) newBandRaw.localCheckpoint() else newBandRaw
    val seenSlice =
      if (prune) {
        val buckets = newBand.select("bbucket").distinct()
          .collect().map(_.getInt(0)).toSeq
        h.seenBand.filter(col("bbucket").isin(buckets: _*)) // cached-side narrow
      } else h.seenBand
    val candidates = newBand
      .select(col("band"), col("bh"), col("id").as("new_id"))
      .join(seenSlice.select(col("band"), col("bh"), col("id").as("seen_id")),
        Seq("band", "bh"))
      .select("new_id", "seen_id").distinct()
    val newToks = NearDup.mergeIfBig(
      newDocs.select(col("id").as("new_id"),
        array_distinct(graft.text.TextAnalysis.tokens(col("text"))).as("toks_a")),
      bigNew)
    candidates
      .join(newToks, "new_id").join(h.seenToks, "seen_id")
      .select(col("new_id"), col("seen_id"),
        NearDup.jaccard(col("toks_a"), col("toks_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** [[flagNearContaminatedAgainstIndex]] against a pre-resolved
    * handle — the streaming gate's per-batch form.
    */
  def flagNearContaminatedAgainstHandle(train: DataFrame, h: BenchIndexHandle,
                                        idCol: String, textCol: String,
                                        threshold: Double = 0.7): DataFrame = {
    val newPrefixed = train.select(
      concat(lit("t:"), col(idCol).cast("string")).as("id"),
      col(textCol).as("text"))
    // ONE count decides both guards: the prefix projection is 1:1, so
    // |newPrefixed| = |train| — the second count() this replaces was one
    // more fixed per-micro-batch action on the streaming gate (§2.4)
    val nNew = train.count()
    val pairs = indexPairsWithHandle(newPrefixed, h, threshold, nNew)
    val flagged = pairs.groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("jaccard")).as("max_jaccard"))
    NearDup.mergeIfBig(
      train.select(col(idCol).as("id"),
        concat(lit("t:"), col(idCol).cast("string")).as("new_id")),
      nNew > NearDup.BroadcastSafeRows)
      .join(flagged, "new_id")
      .select("id", "n_bench_matches", "max_jaccard")
  }

  /** Filter form of the handle path — `train` minus flagged. */
  def removeNearContaminatedAgainstHandle(train: DataFrame, h: BenchIndexHandle,
                                          idCol: String, textCol: String,
                                          threshold: Double = 0.7): DataFrame = {
    val bad = flagNearContaminatedAgainstHandle(train, h, idCol, textCol,
      threshold).select(col("id"))
    train.join(bad, train(idCol) === bad("id"), "left_anti")
  }

  def flagNearContaminatedAgainstIndex(train: DataFrame, indexPath: String,
                                       idCol: String, textCol: String,
                                       bands: Int = 16, rowsPerBand: Int = 1,
                                       threshold: Double = 0.7,
                                       maxBucket: Int = 1000): DataFrame = {
    val newPrefixed = train.select(
      concat(lit("t:"), col(idCol).cast("string")).as("id"),
      col(textCol).as("text"))
    val pairs = indexPairs(newPrefixed, indexPath, bands, rowsPerBand,
      threshold, maxBucket)
    val flagged = pairs.groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("jaccard")).as("max_jaccard"))
    // the id join-back must not broadcast a big train side off its
    // corrupted scan estimate (NearDup.mergeIfBig); flagged is
    // contamination-sized either way
    NearDup.mergeIfBig(
      train.select(col(idCol).as("id"),
        concat(lit("t:"), col(idCol).cast("string")).as("new_id")),
      train.count() > NearDup.BroadcastSafeRows)
      .join(flagged, "new_id")
      .select("id", "n_bench_matches", "max_jaccard")
  }

  /** [[flagNearContaminatedChunked]] against the STORED benchmark index
    * — the steady-state CONTAINMENT scan a production batch loop runs:
    * windows come off the batch, bench signatures/bands/tokens off
    * disk, with the same bucket pruning as the doc-level probe. Window
    * banding must match the stored meta (the probe `require`s it).
    */
  def flagNearContaminatedChunkedAgainstIndex(train: DataFrame, indexPath: String,
                                              idCol: String, textCol: String,
                                              chunkSize: Int = 32, stride: Int = 16,
                                              bands: Int = 16, rowsPerBand: Int = 1,
                                              threshold: Double = 0.7,
                                              maxBucket: Int = 1000): DataFrame = {
    val chunks = Chunker.chunk(
      train.select(col(idCol).as("id"), col(textCol).as("text")),
      "id", "text", chunkSize, stride)
      .select(col("id"),
        concat(lit("t:"), col("id").cast("string"),
          lit("#"), col("chunk_idx").cast("string")).as("ckey"),
        col("chunk_text"))
    val pairs = indexPairs(
      chunks.select(col("ckey").as("id"), col("chunk_text").as("text")),
      indexPath, bands, rowsPerBand, threshold, maxBucket)
    pairs
      .join(NearDup.mergeIfBig(
        chunks.select(col("id"), col("ckey").as("new_id")),
        train.count() > NearDup.BroadcastSafeRows), "new_id")
      .groupBy(col("id"))
      .agg(count_distinct(col("seen_id")).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** The filter form of the indexed path: `train` minus docs
    * near-matching the stored benchmark — what the production batch
    * loop composes ([[flagNearContaminatedAgainstIndex]] is its report
    * form).
    */
  def removeNearContaminatedAgainstIndex(train: DataFrame, indexPath: String,
                                         idCol: String, textCol: String,
                                         bands: Int = 16, rowsPerBand: Int = 1,
                                         threshold: Double = 0.7,
                                         maxBucket: Int = 1000): DataFrame = {
    val bad = flagNearContaminatedAgainstIndex(train, indexPath, idCol, textCol,
      bands, rowsPerBand, threshold, maxBucket).select(col("id"))
    train.join(bad, train(idCol) === bad("id"), "left_anti")
  }

  /** CHUNKED fuzzy decontamination — the CONTAINMENT case both other
    * passes miss: a benchmark answer EMBEDDED inside a long training
    * document. Whole-doc [[flagNearContaminated]] can't see it (a
    * 20-token answer inside a 2 000-token doc has token-Jaccard ≈ 0.01
    * against the doc), and once the answer is lightly edited the exact
    * 13-gram pass loses every window too. Here the TRAINING side is cut
    * into overlapping `chunkSize`-token windows ([[Chunker.chunk]],
    * `stride` ≤ chunkSize so an answer split across one boundary still
    * lands whole in the next window) and each WINDOW is fuzzy-matched
    * against the benchmark at the same recall posture as
    * [[flagNearContaminated]] (1-row bands, estimate prefilter off,
    * exact window-vs-item token-Jaccard ≥ `threshold`). Returns one row
    * per flagged training doc: (id, n_bench_matches, max_jaccard) —
    * `n_bench_matches` counts DISTINCT benchmark items any window hit
    * (several windows hitting one item count once), `max_jaccard` the
    * best window-level match.
    *
    * Sizing: `chunkSize` should bracket the benchmark item length (a
    * window ~2× the item caps the achievable Jaccard near 0.5 — size
    * windows to items, or run two window sizes). Cost shape: the
    * corpus-side row count multiplies by ~tokens/stride windows, but
    * every downstream join stays banded/bucketed exactly like the
    * whole-doc pass — no new quadratic term; the window explode is
    * scan-stage work.
    */
  def flagNearContaminatedChunked(train: DataFrame, bench: DataFrame,
                                  idCol: String, textCol: String,
                                  chunkSize: Int = 32, stride: Int = 16,
                                  bands: Int = 16, rowsPerBand: Int = 1,
                                  threshold: Double = 0.7,
                                  maxBucket: Int = 1000): DataFrame = {
    // composite window key "<id>#<chunk_idx>" (string id space, same
    // uniqueness contract as the prefix remap: the id's string cast is
    // injective per the corpus contract)
    val chunks = Chunker.chunk(
      train.select(col(idCol).as("id"), col(textCol).as("text")),
      "id", "text", chunkSize, stride)
      .select(col("id"),
        concat(lit("t:"), col("id").cast("string"),
          lit("#"), col("chunk_idx").cast("string")).as("ckey"),
        col("chunk_text"))
    val pairs = NearDup.minHashLshAgainstCorpus(
      chunks.select(col("ckey").as("id"), col("chunk_text").as("text")),
      benchPrefixed(bench, idCol, textCol), "id", "text",
      bands, rowsPerBand, threshold, maxBucket, estPrefilter = false)
    pairs
      .join(NearDup.mergeIfBig(
        chunks.select(col("id"), col("ckey").as("new_id")),
        train.count() > NearDup.BroadcastSafeRows), "new_id")
      .groupBy(col("id"))
      .agg(count_distinct(col("seen_id")).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** The filter form of [[flagNearContaminatedChunked]]: `train` minus
    * docs any of whose windows near-match a benchmark item.
    */
  def removeNearContaminatedChunked(train: DataFrame, bench: DataFrame,
                                    idCol: String, textCol: String,
                                    chunkSize: Int = 32, stride: Int = 16,
                                    bands: Int = 16, rowsPerBand: Int = 1,
                                    threshold: Double = 0.7,
                                    maxBucket: Int = 1000): DataFrame = {
    val bad = flagNearContaminatedChunked(train, bench, idCol, textCol,
      chunkSize, stride, bands, rowsPerBand, threshold, maxBucket)
      .select(col("id"))
    train.join(bad, train(idCol) === bad("id"), "left_anti")
  }

  /** The fuzzy filter form: `train` minus near-contaminated docs. The
    * flagged set is benchmark-match-sized (takedown-scale), so the anti
    * join broadcasts under AQE.
    */
  def removeNearContaminated(train: DataFrame, bench: DataFrame,
                             idCol: String, textCol: String,
                             bands: Int = 16, rowsPerBand: Int = 1,
                             threshold: Double = 0.7,
                             maxBucket: Int = 1000): DataFrame = {
    val bad = flagNearContaminated(train, bench, idCol, textCol,
      bands, rowsPerBand, threshold, maxBucket).select(col("id"))
    train.join(bad, train(idCol) === bad("id"), "left_anti")
  }
}
