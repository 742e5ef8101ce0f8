package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.NioLocalFileSystem
import graft.ops.Segments

/** Okapi BM25 lexical retrieval: for each query document, the top-k corpus
  * documents by BM25 score — the standard "pull training docs related to
  * this eval/seed set" tool of a data-curation pipeline (and the lexical
  * complement to the embedding tier in [[graft.similarity.Ann]]).
  *
  * Scale shape: the corpus term-frequency table (id, token, tf) and the
  * document-frequency table both come off ONE token explode as partial
  * aggregations (the [[CorpusStats.tfIdfTopTerms]] pattern); the query
  * side joins on token — queries are a seed set, small next to the
  * corpus, so AQE broadcasts them, and only postings for QUERY terms ever
  * leave the aggregation (the inverted-index access path, expressed
  * relationally). Corpus-wide constants (N, total length) ride a
  * broadcast 1-row frame. The final top-k is a window over qid — query
  * cardinality, fully parallel.
  *
  * Determinism: a per-(query, doc) score is a SUM of per-term float
  * contributions, and float sums depend on merge order. Each contribution
  * is therefore quantized to micro-units (×10⁶, rounded to long) and
  * accumulated as integers — exact in any order, same total at any
  * parallelism, replayable externally (the [[graft.similarity.Kmeans]]
  * fixed-point discipline). At BM25's score range (≤ ~tens per term) the
  * 10⁻⁶ quantum is far below any meaningful score difference.
  */
object Bm25 {

  /** Top-k corpus docs per query doc. Output: (qid, rank, id, score) with
    * score = quantized BM25 rounded to 6 decimals; ties rank by id; a
    * query never retrieves itself (`qid != id` on shared id spaces).
    *
    * `k1` (term-frequency saturation) and `b` (length normalization) are
    * the standard Okapi knobs.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           idCol: String = "doc_id", textCol: String = "text",
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = corpus
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    // The three corpus passes (tf, dl, stats) are DELIBERATELY left as
    // independent scans. Two materializations were measured and both
    // LOST at 100× (warm, median-of-3, 48 g): checkpointing the tf
    // table was 3× worse (round-10 negative result — |doc×token|-sized
    // blocks), and checkpointing even the narrow per-doc length table
    // regressed q_bm25_topk 17.4 → 24.9 s (round 11): the eager
    // checkpoint job costs more than two page-cached columnar re-scans.
    // Lazy scans win here; materialize only tables whose RECOMPUTATION
    // is expensive (shuffled/windowed intermediates), not plain scans.
    val dl = corpus.select(col(idCol).as("id"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
    val stats = corpus.agg(
      count(lit(1)).as("__n"),
      sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("__tot"))
    val qterms = queries
      .select(col(idCol).as("qid"), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .distinct()
    // robertson idf (always positive): ln(1 + (N - df + 0.5)/(df + 0.5));
    // length norm against avgdl = total/N — all doubles with the exact
    // expression shape an external engine replays
    val n = col("__n").cast("double")
    val idf = log(lit(1.0) + (n - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / (col("__tot") / n))
    val contrib: Column = idf * (tfd * lit(k1 + 1.0)) / (tfd + norm)
    // The df and dl tables are vocab- and corpus-sized; their static
    // estimates are not (the r15 misestimate hazard —
    // [[graft.dedup.NearDup.mergeIfBig]]): the planner must never pick
    // them as broadcast build sides just because the qterm-postings
    // side's join-output estimate looks bigger. One cheap count decides;
    // small corpora keep the unhinted broadcast plans. (The indexed
    // probe needs no guard: its postings/df reads are bucket-pruned to
    // the query terms and the doclen table's parquet estimate is honest
    // column data, not compressed text.)
    val bigCorpus = corpus.count() > graft.dedup.NearDup.BroadcastSafeRows
    val scored = qterms
      .join(tf, "token")
      .filter(col("qid") =!= col("id"))
      .join(graft.dedup.NearDup.mergeIfBig(dfreq, bigCorpus), "token")
      .join(graft.dedup.NearDup.mergeIfBig(dl, bigCorpus), "id")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("id"),
        round(contrib * lit(1e6)).cast("long").as("cfx"))
      .groupBy("qid", "id")
      .agg(sum(col("cfx")).as("sfx"))
      .select(col("qid"), col("id"),
        round(col("sfx") / lit(1e6), 6).as("score"),
        col("sfx"))
    val w = Window.partitionBy("qid").orderBy(col("sfx").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score"))
  }

  // -------------------------------------------------------------------
  // Persistent BM25 index — the lexical-retrieval index at rest. The
  // from-raw topK re-derives the postings, document frequencies, doc
  // lengths and corpus stats from the corpus text on EVERY query batch;
  // at 100 TB that is the difference between "scan the lake per search"
  // and "read the postings for the query's terms". Layout:
  //
  //   path/postings : (id, token, tf) partitioned by (batch_id,
  //                   pbucket) with pbucket = pmod(hash(token),
  //                   nBuckets) — a probe lists only the buckets its
  //                   query terms hash to (parquet partition pruning on
  //                   a bounded-cardinality key; partitioning by raw
  //                   token would explode the directory count, the hash
  //                   bucket is the standard fix)
  //   path/dfreq    : (token, df) with the same bucket scheme
  //   path/doclen   : (id, dl) partitioned by batch_id
  //   path/stats    : (n, tot) — ONE ROW PER WRITE/APPEND SEGMENT
  //
  // Append contract: df, n and tot are all SUMS, so an appended batch
  // just adds segment rows and readers aggregate — no read-modify-write
  // of existing files, which is what makes ingest append-only. (tf rows
  // assume a doc id appears in one segment only — re-ingesting a doc is
  // the caller's dedup problem, as with every append-only index here.)
  //
  // Exactly-once: `batch_id` is the OUTER partition level. The base
  // rebuild writes batch_id=-1, plain appends stack more files under
  // batch_id=-1 (append mode), erase corrections land in batch_id=-2,
  // and a STREAMING append passes its micro-batch id — written with
  // DYNAMIC partition overwrite, so a batch retried after a sink-side
  // crash REPLACES its own (batch_id, pbucket) partitions instead of
  // double-appending postings and silently inflating df/N. Readers
  // treat batch_id as one more segment dimension and drop it.
  // -------------------------------------------------------------------

  private def pbucket(tok: Column, nBuckets: Int): Column =
    pmod(hash(tok), lit(nBuckets))

  /** Persist the index (overwrite = full rebuild). */
  def writeBm25Index(corpus: DataFrame, path: String, nBuckets: Int = 64,
                     idCol: String = "doc_id", textCol: String = "text"): Unit =
    writeSegment(corpus, path, nBuckets, idCol, textCol, "overwrite", None)

  /** Append an ingest batch of NEW documents. Pass `batchId` from a
    * streaming `foreachBatch` to make the append idempotent under
    * retries (the segment is keyed on the id and dynamically
    * overwritten); batchless appends stack under the base segment.
    */
  def appendBm25Index(corpus: DataFrame, path: String, nBuckets: Int = 64,
                      idCol: String = "doc_id", textCol: String = "text",
                      batchId: Option[Long] = None): Unit =
    writeSegment(corpus, path, nBuckets, idCol, textCol, "append", batchId)

  private def writeSegment(corpus: DataFrame, path: String, nBuckets: Int,
                           idCol: String, textCol: String, mode: String,
                           batchId: Option[Long]): Unit =
    if (batchId.isDefined) writeStreamSegment(corpus, path, nBuckets,
      idCol, textCol, mode, batchId)
    else writeRebuildSegment(corpus, path, nBuckets, idCol, textCol, mode,
      batchId)

  /** STREAMING append (batchId set): the four segment writes are four
    * independent actions, run as concurrent jobs ([[Segments.writeAll]]),
    * so everything they share is pinned ONCE per micro-batch (guide
    * §2.4) — both pins BATCH-sized by the micro-batch contract. `arr`
    * pins the tokenized batch (one tokenize pass total;
    * r17's (id, text) pin still re-tokenized per consumer — 2 tokenize
    * + 2 tokenCount regex passes per batch), and `tfp` pins the
    * (id, token, tf) grid AFTER its aggregation + pbucket shuffle, so
    * the postings write is a pure pin scan and the dfreq write reuses
    * the grid instead of re-running explode + groupBy (the r17 verdict's
    * "write tf and dfreq from one shuffled intermediate"). doclen/stats
    * derive from `arr` via size(): `tokenCount ≡ size(tokens)` by
    * definition in [[TextAnalysis]], so the laws are bit-identical.
    */
  private def writeStreamSegment(corpus: DataFrame, path: String, nBuckets: Int,
                                 idCol: String, textCol: String, mode: String,
                                 batchId: Option[Long]): Unit = {
    val arr = corpus
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .localCheckpoint()
    // repartition ON pbucket before the partitionBy writes: without it
    // every shuffle task writes a file into every bucket directory —
    // tasks × buckets files per segment (the cluster-scale metadata
    // killer); hashed-to-one-task buckets give files-per-bucket ≈ 1
    val tfp = arr
      .select(col("id"), explode(col("__toks")).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .withColumn("pbucket", pbucket(col("token"), nBuckets))
      .repartition(col("pbucket"))
      .localCheckpoint()
    val t = new SegmentTables(path, nBuckets, mode, batchId)
    Segments.writeAll(
      () => t.postings(tfp),
      () => t.dfreq(tfp),
      () => t.doclen(arr.select(col("id"), size(col("__toks")).cast("long").as("dl"))),
      () => t.stats(arr.agg(count(lit(1)).as("n"),
        sum(size(col("__toks")).cast("long")).as("tot"))))
  }

  /** Full REBUILD / batchless append (batchId None): deliberately
    * UNPINNED — checkpointing the corpus-sized tf grid or token arrays
    * for a one-shot is the measured-negative trade of the round-10/11
    * A/Bs (the scan-vs-checkpoint comment in [[topK]]).
    *
    * An OVERWRITE rebuild still avoids the redundant passes, for free:
    * the postings/doclen tables it has JUST WRITTEN are the
    * materialized intermediates, so dfreq re-reads the narrow `token`
    * column of the fresh postings segment instead of re-running the
    * whole corpus tokenize + (id, token) shuffle, and stats re-reads
    * the fresh doclen (8-byte dl column) instead of a second regex
    * tokenCount pass over the text. Corpus text is scanned TWICE per
    * rebuild (tf, doclen) instead of four times, at zero extra
    * materialization — the write is the contract. Identical tables:
    * dfreq aggregates exactly the tf rows, stats' n = one doclen row
    * per corpus row and tot = Σdl = Σ tokenCount.
    *
    * The two chains (postings → dfreq, doclen → stats) share nothing,
    * so they run as concurrent jobs ([[Segments.writeAll]]). At index
    * sizes a write is mostly fixed per-job latency, which the overlap
    * hides; at scale the rebuild is CPU-bound and the two-pass read-back
    * is what counts. Measured at local[4] on a 4-vCPU VM, median wall
    * per rebuild in one session: 100 documents (the perfbench
    * registry_mix set-up) serial 0.85 s → chains 0.62 s; 500k documents
    * (100× of sf0.1) serial 18.7 s, chains 19.4 s. Writing all four
    * tables concurrently from the corpus was faster still at 100
    * documents (0.40 s) but took 29.2 s and 1.7× the CPU time at 500k,
    * from its two extra corpus passes.
    *
    * A batchless APPEND cannot use the read-back: its rows stack under
    * batch_id=-1 next to every earlier append's, so the freshly-written
    * slice is indistinguishable on disk — it keeps the lazy re-derive.
    */
  private def writeRebuildSegment(corpus: DataFrame, path: String, nBuckets: Int,
                                  idCol: String, textCol: String, mode: String,
                                  batchId: Option[Long]): Unit = {
    val spark = corpus.sparkSession
    val readBack = mode == "overwrite"
    val t = new SegmentTables(path, nBuckets, mode, batchId)
    val tf = corpus
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    // read-backs carry EXPLICIT schemas (derived from the frames just
    // written): an empty-corpus rebuild writes a fileless directory,
    // where schema inference would throw but a schema'd read returns
    // the empty frame the lazy form would also produce
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
    val postingsSchema = new StructType()
      .add("id", tf.schema("id").dataType).add("token", StringType)
      .add("tf", LongType).add("pbucket", IntegerType)
      .add("batch_id", LongType)
    val doclenSchema = new StructType()
      .add("id", tf.schema("id").dataType).add("dl", LongType)
      .add("batch_id", LongType)
    Segments.writeAll(
      () => {
        // same files-per-bucket ≈ 1 rule as the streaming path
        t.postings(tf.withColumn("pbucket", pbucket(col("token"), nBuckets))
          .repartition(col("pbucket")))
        t.dfreq(if (readBack) spark.read.schema(postingsSchema).parquet(s"$path/postings")
          else tf)
      },
      () => {
        t.doclen(corpus.select(col(idCol).as("id"),
          TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl")))
        t.stats(
          if (readBack) spark.read.schema(doclenSchema).parquet(s"$path/doclen")
            .agg(count(lit(1)).as("n"), sum(col("dl")).as("tot"))
          else corpus.agg(count(lit(1)).as("n"),
            sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("tot")))
      })
  }

  /** The four table writes of one segment. `postings` takes (id, token,
    * tf, pbucket) already repartitioned on pbucket; `dfreq` counts the
    * rows of an (id, token, ...) frame per token; `doclen` takes (id, dl)
    * and `stats` the one (n, tot) row.
    */
  private final class SegmentTables(path: String, nBuckets: Int, mode: String,
                                    batchId: Option[Long]) {
    def postings(p: DataFrame): Unit =
      Segments.writer(p, mode, batchId)
        .partitionBy("batch_id", "pbucket").parquet(s"$path/postings")
    def dfreq(tf: DataFrame): Unit =
      Segments.writer(tf.groupBy("token").agg(count(lit(1)).as("df"))
          .withColumn("pbucket", pbucket(col("token"), nBuckets))
          .repartition(col("pbucket")), mode, batchId)
        .partitionBy("batch_id", "pbucket").parquet(s"$path/dfreq")
    def doclen(dl: DataFrame): Unit =
      Segments.writer(dl, mode, batchId)
        .partitionBy("batch_id").parquet(s"$path/doclen")
    def stats(nTot: DataFrame): Unit =
      Segments.writer(nTot.coalesce(1), mode, batchId)
        .partitionBy("batch_id").parquet(s"$path/stats")
  }

  /** Delete documents from the stored index WITHOUT rebuild — the
    * right-to-erasure path at 100 TB. Append-only like everything else
    * here: the deleted ids land in `path/tombstones`, and because df,
    * n and tot are segment SUMS, the correction is NEGATIVE segment
    * rows — one (token, -1)-shaped df row per deleted posting (derived
    * from the stored postings, so the corpus text is not needed) and
    * one (-k, -Σdl) stats row. Readers anti-join postings/doclen
    * against the tombstones and keep summing df/stats as before; a
    * compaction rewrite can later fold tombstones in physically.
    */
  def deleteFromBm25Index(ids: DataFrame, path: String, nBuckets: Int = 64,
                          idCol: String = "doc_id"): Unit = {
    val spark = ids.sparkSession
    // serial, unlike the rebuild: tombstones land last, because a rerun
    // skips tombstoned ids and so could never redo a failed correction
    // already-tombstoned ids are excluded so a double delete cannot
    // subtract its df/stats corrections twice (idempotent erasure).
    // No cast on the id: tombstones keep the stored id type so the
    // anti-joins match (casting string ids to long yields NULLs and a
    // silently no-op erasure)
    val del = minusTombstones(spark,
        ids.select(col(idCol).as("id")).distinct(), path)
      .localCheckpoint() // reused four times below
    val deadPostings = spark.read.parquet(s"$path/postings")
      .join(broadcast(del), "id")
    // corrections are ordinary NEGATIVE segments under batch_id=-2
    val dfCorrection = deadPostings.groupBy("token").agg((-count(lit(1))).as("df"))
      .withColumn("pbucket", pbucket(col("token"), nBuckets))
      .withColumn("batch_id", lit(-2L))
      .repartition(col("pbucket")) // one file per bucket, not tasks × buckets
    NioLocalFileSystem.write(dfCorrection)
      .mode("append").partitionBy("batch_id", "pbucket").parquet(s"$path/dfreq")
    val statsCorrection = spark.read.parquet(s"$path/doclen").join(broadcast(del), "id")
      .agg((-count(lit(1))).as("n"), (-sum(col("dl"))).as("tot"))
      .withColumn("batch_id", lit(-2L))
    NioLocalFileSystem.write(statsCorrection.coalesce(1))
      .mode("append").partitionBy("batch_id").parquet(s"$path/stats")
    NioLocalFileSystem.write(del).mode("append").parquet(s"$path/tombstones")
  }

  private def minusTombstones(spark: org.apache.spark.sql.SparkSession,
                              df: DataFrame, path: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(s"$path/tombstones")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones"))) df
    else df.join(broadcast(spark.read.parquet(s"$path/tombstones")), Seq("id"),
      "left_anti")
  }

  /** [[topK]] against the STORED index: the corpus text is never read —
    * postings and df come off the buckets the query terms hash to
    * (partition-pruned), doc lengths off the narrow doclen table, and
    * the corpus constants are the sum of the stored segment rows.
    * Scoring, quantization and ranking are identical to the from-raw
    * form (spec-pinned, same oracle).
    */
  def topKAgainstIndex(queries: DataFrame, path: String, k: Int,
                       nBuckets: Int = 64,
                       idCol: String = "doc_id", textCol: String = "text",
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = queries.sparkSession
    val qterms = queries
      .select(col(idCol).as("qid"), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .distinct()
      .localCheckpoint() // reused: bucket list + two probe joins
    val buckets = qterms.select(pbucket(col("token"), nBuckets).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    def pruned(sub: String): DataFrame =
      spark.read.parquet(s"$path/$sub")
        .filter(col("pbucket").isin(buckets: _*)) // static partition pruning
        .drop("pbucket", "batch_id")
    val tf = minusTombstones(spark, pruned("postings"), path)
    val dfreq = pruned("dfreq").groupBy("token").agg(sum(col("df")).as("df"))
      .filter(col("df") > 0)
    val dl = minusTombstones(spark,
      spark.read.parquet(s"$path/doclen").drop("batch_id"), path)
    val stats = spark.read.parquet(s"$path/stats")
      .agg(sum(col("n")).as("__n"), sum(col("tot")).as("__tot"))
    val n = col("__n").cast("double")
    val idf = log(lit(1.0) + (n - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / (col("__tot") / n))
    val contrib: Column = idf * (tfd * lit(k1 + 1.0)) / (tfd + norm)
    val scored = qterms
      .join(tf, "token")
      .filter(col("qid") =!= col("id"))
      .join(dfreq, "token")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("id"),
        round(contrib * lit(1e6)).cast("long").as("cfx"))
      .groupBy("qid", "id")
      .agg(sum(col("cfx")).as("sfx"))
      .select(col("qid"), col("id"),
        round(col("sfx") / lit(1e6), 6).as("score"),
        col("sfx"))
    val w = Window.partitionBy("qid").orderBy(col("sfx").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), col("score"))
  }
}
