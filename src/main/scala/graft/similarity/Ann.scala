package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.io.NioLocalFileSystem
import graft.ops.Tables

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the standard scale playbook:
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *    set against the corpus; one narrow pass over the corpus, one
  *    window-top-k per query. Correctness baseline and perfectly adequate
  *    whenever |queries| × |corpus| work fits the cluster.
  *  - [[lshBucketedTopK]] — sign-random-projection LSH: each vector gets a
  *    `nBits`-bit bucket from deterministic hyperplanes; queries probe
  *    their own bucket plus all 1-bit-flip neighbors (multi-probe), so the
  *    scan touches ~(nBits+1)/2^nBits of the corpus instead of all of it.
  *    Approximate: recall measured against brute force in AnnSpec.
  *
  * Scoring goes through the codegen'd [[graft.functions.DotProduct]]
  * expression, which widens float elements to double before multiplying —
  * the same arithmetic as an explicit element-wise cast, so scores are
  * stable and oracle-reproducible; norms are staged once per vector, not
  * recomputed per candidate pair.
  */
object Ann {

  /** Exact top-k by cosine. `queries` must be small enough to broadcast
    * (it is hint-broadcast); ranks are deterministic: ties broken by
    * corpus id, scores pre-rounded so rank order is reproducible across
    * engines.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms staged once per vector (not once per pair); scoring is then a
    // single codegen'd dot per pair.
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .withColumn("cn", VectorOps.norm(col("cvec")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qn", VectorOps.norm(col("qvec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(VectorOps.cosineFromParts(VectorOps.dot(col("qvec"), col("cvec")), col("qn"), col("cn")), 6).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Sentinel `nBits` value: size the buckets from the corpus count via
    * [[nBitsFor]] (one `count()` action — parquet answers it from
    * row-group metadata, no row data is read).
    */
  val AutoBits: Int = -1

  /** Byte-denominated twin of [[graft.dedup.NearDup.BroadcastSafeRows]]
    * for STORED index reads, whose listing-derived size statistic is
    * honest column data (id + fixed-width vector + norm — nothing like
    * the compressed-text misestimates the row guard exists for): 8192
    * safe rows × ~0.5 KB per (id, 64-double vec, nrm) row ≈ 4 MB. Lets
    * an index probe decide "too big to broadcast?" from the listing it
    * already paid for, with zero extra jobs.
    */
  private[graft] val BroadcastSafeIndexBytes: BigInt = BigInt(4L << 20)

  /** The bucket-width law (BASELINE.md "ANN retrieval scale law"):
    * expected per-(table, bucket) occupancy is |C|/2^nBits and candidate
    * volume — hence bucket-join time — grows linearly with it, so holding
    * nBits fixed while the corpus grows 10× makes the join ~10× heavier
    * per query (the one measured hotspot in this module; raising the bits
    * restored linear time, 4.7× faster at 10×). The knob must therefore
    * track the corpus: nBits = ceil(log2(|C| / targetOccupancy)), clamped
    * to [4, 28].
    *
    * `targetOccupancy = 8` reproduces the measured-good configurations
    * (2 k corpus → 8 bits, 20 k → 12 bits — the AnnBench row that
    * restored linearity). Occupancy buys candidates, not recall quality:
    * use `nTables` to buy recall back (BASELINE.md interpretation).
    */
  def nBitsFor(corpusCount: Long, targetOccupancy: Int = 8): Int = {
    require(corpusCount > 0, s"corpusCount=$corpusCount must be positive")
    require(targetOccupancy > 0, s"targetOccupancy=$targetOccupancy must be positive")
    val raw = math.ceil(
      math.log(corpusCount.toDouble / targetOccupancy) / math.log(2.0)).toInt
    math.min(28, math.max(4, raw))
  }

  /** Resolve the `nBits` argument: [[AutoBits]] → [[nBitsFor]] of the
    * corpus count; an explicit value passes through (registry queries pin
    * explicit bits so their embedded-plane oracles stay stable).
    */
  private[graft] def resolveBits(nBits: Int, corpus: DataFrame): Int =
    if (nBits == AutoBits) nBitsFor(math.max(corpus.count(), 1L)) else nBits

  /** Deterministic pseudo-random hyperplanes: `nBits` × `dim`, components
    * from a fixed-seed generator, materialized as plan literals (no
    * runtime randomness — reruns and resumes see identical planes).
    * `private[graft]` so the oracle registry can embed the SAME constants
    * into DuckDB SQL, making LSH bucketing externally replayable.
    */
  private[graft] def hyperplanes(nBits: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Fail fast on embedding-width mismatch. DotProduct's common-prefix
    * semantics mean a `dim` smaller than the actual embedding width would
    * silently bucket on a prefix — a recall collapse with no error. The
    * guard is a per-row `assert_true` kept in the plan by the `IS NULL`
    * filter (assert_true returns NULL when it passes, so the filter keeps
    * every row); cost is one codegen'd integer compare per row.
    */
  private def requireDim(df: DataFrame, vecCol: Column, dim: Int, op: String): DataFrame =
    df.filter(assert_true(size(vecCol) === dim,
      concat(lit(s"$op: embedding width "), size(vecCol),
        lit(s" != dim=$dim — hyperplanes are built $dim-wide; fix the dim argument"))).isNull)

  /** Sign-random-projection bucket id for a (double-typed) vector. */
  private[graft] def bucketExpr(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(VectorOps.dot(vec, plane) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Approximate top-k: join queries to corpus on LSH bucket (query bucket
    * + all 1-bit flips, per hash table), then exact-rank within the
    * candidate set. `nTables` independent hash tables trade index size for
    * recall (the standard LSH knob): a corpus vector is stored once per
    * table, a query probes `nTables × (nBits + 1)` buckets.
    *
    * `dim` must equal the embedding length — enforced per row (see
    * [[requireDim]]).
    */
  def lshBucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      nBits: Int = AutoBits, dim: Int = 64, seed: Long = 42L,
                      nTables: Int = 4,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bits = resolveBits(nBits, corpus)
    val tablePlanes = (0 until nTables).map(t => hyperplanes(bits, dim, seed + t))
    val c0 = requireDim(
      corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")),
      col("cvec"), dim, "lshBucketedTopK(corpus)")
    val c = c0.select(col("cid"), col("cvec"), explode(array(
      tablePlanes.zipWithIndex.map { case (p, t) =>
        struct(lit(t).as("tbl"), bucketExpr(col("cvec"), p).as("bucket"))
      }: _*)).as("tb"))
      .select(col("cid"), col("cvec"), col("tb.tbl"), col("tb.bucket"))
      .withColumn("cn", VectorOps.norm(col("cvec")))
    val qBase = requireDim(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")),
      col("qvec"), dim, "lshBucketedTopK(queries)")
      .withColumn("qn", VectorOps.norm(col("qvec")))
    // per table: own bucket + every 1-bit flip (multi-probe)
    val probes = array((lit(0L) +: (0 until bits).map(i => lit(1L << i))): _*)
    val q = qBase.select(col("qid"), col("qvec"), col("qn"), explode(array(
      tablePlanes.zipWithIndex.map { case (p, t) =>
        struct(lit(t).as("tbl"), bucketExpr(col("qvec"), p).as("b0"))
      }: _*)).as("tb"))
      .select(col("qid"), col("qvec"), col("qn"), col("tb.tbl"),
        explode(transform(probes, m => col("tb.b0").bitwiseXOR(m))).as("bucket"))
    val scored = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(VectorOps.cosineFromParts(VectorOps.dot(col("qvec"), col("cvec")), col("qn"), col("cn")), 6).as("cosine"))
      .distinct() // a pair can meet through several tables/probes
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Large-query-set LSH top-k: same bucket construction as
    * [[lshBucketedTopK]] but NOTHING is broadcast — built for
    * corpus-vs-corpus retrieval (|Q| ≈ |C|, the trainset-curation shape)
    * where the query side is far too big for a broadcast and
    * [[lshBucketedTopK]]'s contract breaks.
    *
    * Shuffle discipline (the 100 TB design):
    *  1. Both sides post NARROW rows — (id, tbl, bucket), ≤24 bytes — into
    *     the shuffle-hash join on (tbl, bucket); embedding payloads never
    *     enter the candidate join.
    *  2. Per-(tbl, bucket) corpus population is capped at `maxBucket`
    *     BEFORE the join (counted on 16-byte rows), so a degenerate
    *     direction (padding/template vectors) can't go quadratic — same
    *     policy as [[embeddingNearDups]] / NearDup.minHashLsh.
    *  3. Candidate (qid, cid) pairs are distinct-ed while still narrow;
    *     vectors and staged norms are re-attached by two equi-joins only
    *     for surviving pairs, then scored with the codegen'd dot product.
    *
    * Results are exact-ranked within the candidate set and deterministic
    * (scores rounded, ties by cid) — identical scoring to the broadcast
    * variant, so the two agree wherever their candidate sets overlap.
    */
  def lshShuffledTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      nBits: Int = AutoBits, dim: Int = 64, seed: Long = 42L,
                      nTables: Int = 4, maxBucket: Int = 100000,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bits = resolveBits(nBits, corpus)
    val tablePlanes = (0 until nTables).map(t => hyperplanes(bits, dim, seed + t))
    // corpus postings: one (cid, tbl, bucket) row per table — no payload
    val cPost = requireDim(
      corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")),
      col("cvec"), dim, "lshShuffledTopK(corpus)")
      .select(col("cid"), explode(array(tablePlanes.zipWithIndex.map { case (p, t) =>
        struct(lit(t).as("tbl"), bucketExpr(col("cvec"), p).as("bucket"))
      }: _*)).as("tb"))
      .select(col("cid"), col("tb.tbl"), col("tb.bucket"))
    // bucket cap as ONE window over (tbl, bucket) — the r17-deferred A/B
    // (OPTIMIZATION_r18.md "VERDICT r17 #4", 100× fixture, AutoBits
    // geometry, warm median-of-3): window 172.2 s vs groupBy-count +
    // join-back 223.4 s. `SPARK_GRAFT_SF_DIR=<ScaleFixture dir>
    // SPARK_GRAFT_ONLY=q_ann_retrieval_topk sbt "runMain graft.Bench"`
    // reruns the adopted form.
    // The agg+join form EVALUATES cPost twice, and each evaluation
    // re-pays nTables × nBits 64-dim dot products per corpus vector —
    // at scale that arithmetic dwarfs one extra hash exchange of the
    // 24-byte posting rows (which the window's high-cardinality
    // (tbl, bucket) key spreads across the cluster). Identical capped
    // postings by construction (same counts, same filter; equality
    // pinned in the probe and by this row's oracle).
    val cCap = cPost
      .withColumn("__n", count(lit(1)).over(
        Window.partitionBy(col("tbl"), col("bucket"))))
      .filter(col("__n") <= maxBucket).drop("__n")
    // query probes: own bucket + 1-bit flips per table — still no payload
    val probes = array((lit(0L) +: (0 until bits).map(i => lit(1L << i))): _*)
    val qPost = requireDim(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")),
      col("qvec"), dim, "lshShuffledTopK(queries)")
      .select(col("qid"), explode(array(tablePlanes.zipWithIndex.map { case (p, t) =>
        struct(lit(t).as("tbl"), bucketExpr(col("qvec"), p).as("b0"))
      }: _*)).as("tb"))
      .select(col("qid"), col("tb.tbl"),
        explode(transform(probes, m => col("tb.b0").bitwiseXOR(m))).as("bucket"))
    val cand = cCap.join(qPost, Seq("tbl", "bucket"))
      .filter(col("cid") =!= col("qid"))
      .select("qid", "cid").distinct()
    // attach vectors + norms only for surviving candidates
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qn", VectorOps.norm(col("qvec")))
    val cv = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .withColumn("cn", VectorOps.norm(col("cvec")))
    val scored = cand.join(qv, "qid").join(cv, "cid")
      .select(col("qid"), col("cid"),
        round(VectorOps.cosineFromParts(VectorOps.dot(col("qvec"), col("cvec")), col("qn"), col("cn")), 6).as("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs (the "semantic dedup" step of a
    * training-data pipeline): all corpus pairs whose cosine ≥ threshold,
    * generated through the same LSH buckets instead of all-pairs.
    *
    * The within-bucket self-join is O(bucket²), and the actual use case —
    * a near-duplicate-heavy corpus — is exactly what concentrates vectors
    * into few buckets. `maxBucket` caps that blast radius the same way
    * [[graft.dedup.NearDup.minHashLsh]] does: buckets holding more than
    * `maxBucket` vectors are dropped whole (at 8 hyperplane bits a bucket
    * holding >maxBucket of the corpus is a degenerate direction — padding
    * vectors, all-zero embeddings, template content). Pairs inside a
    * dropped bucket can still be found by re-running with a different
    * seed or more bits; the default keeps the worst bucket at ≤10⁶
    * comparisons.
    */
  def embeddingNearDups(corpus: DataFrame, threshold: Double,
                        nBits: Int = AutoBits, dim: Int = 64, seed: Long = 42L,
                        maxBucket: Int = 1000,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(resolveBits(nBits, corpus), dim, seed)
    val c = requireDim(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
      col("vec"), dim, "embeddingNearDups")
      .withColumn("bucket", bucketExpr(col("vec"), planes))
      .withColumn("nrm", VectorOps.norm(col("vec")))
    // cap pathological buckets BEFORE the self-join: the count is a
    // 16-byte-row aggregation, the join it guards is quadratic.
    val bucketSizes = c.groupBy("bucket").count()
    val capped = c.join(
      bucketSizes.filter(col("count") <= maxBucket).select("bucket"), Seq("bucket"))
    val l = capped.select(col("bucket"), col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("na"))
    val r = capped.select(col("bucket"), col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nb"))
    // the self-join's build side carries the corpus VECTORS — never a
    // static broadcast off a corrupted scan estimate (the r15
    // NearDup.mergeIfBig hazard); one cheap count decides
    val big = corpus.count() > graft.dedup.NearDup.BroadcastSafeRows
    l.join(graft.dedup.NearDup.mergeIfBig(r, big), "bucket")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.cosineFromParts(VectorOps.dot(col("vec_a"), col("vec_b")), col("na"), col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      // no distinct needed: single table, one bucket per id, id_a < id_b →
      // each pair appears exactly once
  }

  /** Incremental embedding-cosine near-dup: each NEW vector checked
    * against the SEEN corpus through the shared LSH buckets — the
    * batch-vs-history ingest shape the other three detectors have had
    * for rounds ([[graft.dedup.NearDup.dedupAgainstCorpus]] exact,
    * `minHashLshAgainstCorpus` token-Jaccard,
    * `simHashNearDupsAgainstCorpus` Hamming); this completes the
    * detector family, and its (new_id, seen_id) pairs feed the same
    * incremental cluster maintenance
    * ([[graft.dedup.DupClusters.mergeComponents]] /
    * [[graft.streaming.ClusterIngest]]).
    *
    * Scale shape: mirrors [[embeddingNearDups]] — same hyperplanes,
    * same bucket geometry (AutoBits resolves on the SEEN corpus: probe
    * batches must not change bucket structure), and the bucket cap is
    * computed on the SEEN side (history carries the degenerate-direction
    * mass; a batch rarely fills a bucket alone — the
    * minHashLshAgainstCorpus convention). Per batch: one bucket+norm
    * pass over the batch, a bucket equi-join sized by the batch, and
    * exact cosine only on co-bucketed candidates. Both join inputs are
    * count-guarded against the static-broadcast misestimate hazard.
    *
    * Output: (new_id, seen_id, cosine ≥ threshold); equal ids are
    * skipped (a re-ingested vector is not its own near-dup).
    */
  def embeddingNearDupsAgainstCorpus(newVecs: DataFrame, seenVecs: DataFrame,
                                     threshold: Double,
                                     nBits: Int = AutoBits, dim: Int = 64,
                                     seed: Long = 42L, maxBucket: Int = 1000,
                                     idCol: String = "vec_id",
                                     vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(resolveBits(nBits, seenVecs), dim, seed)
    def staged(df: DataFrame, side: String) = requireDim(
        df.select(col(idCol).as(s"${side}_id"), col(vecCol).as(s"vec_$side")),
        col(s"vec_$side"), dim, "embeddingNearDupsAgainstCorpus")
      .withColumn("bucket", bucketExpr(col(s"vec_$side"), planes))
      .withColumn(s"n_$side", VectorOps.norm(col(s"vec_$side")))
    val seen = staged(seenVecs, "seen")
    val okBuckets = seen.groupBy("bucket").count()
      .filter(col("count") <= maxBucket).select("bucket")
    val bigSeen = seenVecs.count() > graft.dedup.NearDup.BroadcastSafeRows
    val bigNew = newVecs.count() > graft.dedup.NearDup.BroadcastSafeRows
    graft.dedup.NearDup.mergeIfBig(staged(newVecs, "new"), bigNew)
      .join(graft.dedup.NearDup.mergeIfBig(seen.join(okBuckets, Seq("bucket")), bigSeen),
        Seq("bucket"))
      .filter(col("new_id") =!= col("seen_id"))
      .select(col("new_id"), col("seen_id"),
        round(VectorOps.cosineFromParts(
          VectorOps.dot(col("vec_new"), col("vec_seen")),
          col("n_new"), col("n_seen")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Persist the embedding near-dup index: the seen corpus staged once
    * — (id, nrm, vec) rows under `path/vecs` PARTITIONED BY the LSH
    * bucket, plus `path/meta` = (nbits, dim, seed) so probes derive the
    * exact stored geometry (no caller-supplied knob can mismatch). This
    * is the steady-state split the MinHash detector has had since r11
    * ([[graft.dedup.NearDup.writeNearDupIndex]]): without it every
    * ingest batch re-pays the seen side's bucket+norm staging (measured
    * 3 passes over history per micro-batch on the fused streaming
    * loop); with it the seen side costs zero per batch and probes
    * partition-prune to the batch's buckets.
    */
  def writeEmbedNearDupIndex(seenVecs: DataFrame, path: String,
                             nBits: Int = AutoBits, dim: Int = 64,
                             seed: Long = 42L,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): Unit = {
    val spark = seenVecs.sparkSession
    val bits = resolveBits(nBits, seenVecs)
    val planes = hyperplanes(bits, dim, seed)
    val vecs = requireDim(
        seenVecs.select(col(idCol).as("id"), col(vecCol).as("vec")),
        col("vec"), dim, "writeEmbedNearDupIndex")
      .withColumn("bucket", bucketExpr(col("vec"), planes))
      .withColumn("nrm", VectorOps.norm(col("vec")))
      // one file per bucket, not tasks × buckets (the index fan-out rule)
      .repartition(col("bucket"))
    NioLocalFileSystem.write(vecs)
      .mode("overwrite").partitionBy("bucket").parquet(s"$path/vecs")
    import spark.implicits._
    NioLocalFileSystem.write(Seq((bits, dim, seed)).toDF("nbits", "dim", "seed").coalesce(1))
      .mode("overwrite").parquet(s"$path/meta")
  }

  /** Append an ingest batch to the stored embed index with the STORED
    * geometry (planes do not move between rebuilds — the
    * [[graft.similarity.Pq.appendIvfPqIndex]] contract): one staging
    * pass over the batch, bucket-partitioned append. The post-dedup
    * step of the production loop (check batch against index → keep
    * survivors → append survivors).
    */
  def appendEmbedNearDupIndex(newVecs: DataFrame, path: String,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    val meta = Tables.parquet(spark, s"$path/meta").collect().head
    val (bits, dim, seed) =
      (meta.getAs[Int]("nbits"), meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    val planes = hyperplanes(bits, dim, seed)
    val vecs = requireDim(
        newVecs.select(col(idCol).as("id"), col(vecCol).as("vec")),
        col("vec"), dim, "appendEmbedNearDupIndex")
      .withColumn("bucket", bucketExpr(col("vec"), planes))
      .withColumn("nrm", VectorOps.norm(col("vec")))
      .repartition(col("bucket"))
    NioLocalFileSystem.write(vecs)
      .mode("append").partitionBy("bucket").parquet(s"$path/vecs")
  }

  /** Erase vectors from the stored embed index WITHOUT rebuild — the
    * takedown verb the other index families carry. Ids land in the
    * append-only `path/tombstones` (caller's id type preserved — the
    * [[graft.dedup.NearDup.deleteFromNearDupIndex]] type-genericity
    * rule); probes anti-join, so a deleted vector stops matching
    * immediately and a repeated delete is a no-op.
    */
  def deleteFromEmbedNearDupIndex(ids: DataFrame, path: String,
                                  idCol: String = "vec_id"): Unit =
    NioLocalFileSystem.write(ids.select(col(idCol).as("id")).distinct())
      .mode("append").parquet(s"$path/tombstones")

  private def minusEmbedTombstones(spark: org.apache.spark.sql.SparkSession,
                                   df: DataFrame, path: String): DataFrame = {
    val t = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    if (!t.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(t)) df
    else df.join(broadcast(Tables.parquet(spark, s"$path/tombstones")
        .withColumnRenamed("id", "seen_id")),
      Seq("seen_id"), "left_anti")
  }

  /** [[embeddingNearDupsAgainstCorpus]] against the STORED index: the
    * seen side's buckets/norms/vectors come off `path/vecs` — zero
    * staging work per batch — and the read is partition-pruned to the
    * batch's buckets when the batch could leave buckets untouched
    * (≤ 1024 distinct buckets; a saturating batch streams the full
    * index instead — the r15 bucket-prune guard from the decontam
    * probes: pruning machinery that prunes nothing is pure overhead).
    * Geometry (nbits/dim/seed) comes from the stored meta, so indexed ≡
    * from-raw by construction (spec-pinned). Bucket caps count the FULL
    * stored bucket (a bucket lives whole inside its partition).
    */
  def embeddingNearDupsAgainstIndex(newVecs: DataFrame, path: String,
                                    threshold: Double, maxBucket: Int = 1000,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding"): DataFrame = {
    val spark = newVecs.sparkSession
    val meta = Tables.parquet(spark, s"$path/meta").collect().head
    val (bits, dim, seed) =
      (meta.getAs[Int]("nbits"), meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    val planes = hyperplanes(bits, dim, seed)
    val neu = requireDim(
        newVecs.select(col(idCol).as("new_id"), col(vecCol).as("vec_new")),
        col("vec_new"), dim, "embeddingNearDupsAgainstIndex")
      .withColumn("bucket", bucketExpr(col("vec_new"), planes))
      .withColumn("n_new", VectorOps.norm(col("vec_new")))
      // two consumers (bucket list + candidate join) and true stats
      .localCheckpoint()
    // ONE action yields the bucket list AND the batch row count (the
    // per-bucket counts sum to it when the list is complete): the
    // separate count() job this replaces was one more fixed per-probe
    // action (guide §2.4) — per micro-batch on the streaming gates
    val bucketCounts = neu.groupBy("bucket").agg(count(lit(1)).as("__c"))
      .limit(1025).collect()
    val batchBuckets = bucketCounts.map(_.getLong(0))
    val vecs = Tables.parquet(spark, s"$path/vecs")
    // literals in the PARTITION column's inferred type (small buckets
    // infer INT) — a cast wrapped around the attribute could block the
    // partition prune this read exists for
    val bucketLits: Seq[Any] =
      if (vecs.schema("bucket").dataType == org.apache.spark.sql.types.IntegerType)
        batchBuckets.map(_.toInt).toSeq
      else batchBuckets.toSeq
    val seenRead =
      if (batchBuckets.length <= 1024)
        vecs.filter(col("bucket").isin(bucketLits: _*)) // partition prune
      else vecs
    // tombstones first: the bucket caps below count the LIVE set, so
    // erased ≡ from-raw-on-live (the NearDup erased contract)
    val seen = minusEmbedTombstones(spark,
      seenRead.select(col("bucket").cast("long").as("bucket"),
        col("id").as("seen_id"), col("vec").as("vec_seen"), col("nrm").as("n_seen")),
      path)
    val okBuckets = seen.groupBy("bucket").count()
      .filter(col("count") <= maxBucket).select("bucket")
    // broadcast-safety guards with ZERO extra jobs: the stored index's
    // listing-derived size statistic is honest column data (the Bm25
    // indexed-probe rule — unlike compressed-text scan estimates), so it
    // answers "too big to broadcast?" without the full-index count()
    // this replaces; the batch side's row count falls out of the pinned
    // bucket aggregation above (sum of complete per-bucket counts;
    // a truncated list already proves > BroadcastSafeRows buckets)
    val bigSeen = vecs.queryExecution.optimizedPlan.stats.sizeInBytes >
      BroadcastSafeIndexBytes
    val bigNew =
      if (batchBuckets.length > 1024) true
      else bucketCounts.map(_.getLong(1)).sum > graft.dedup.NearDup.BroadcastSafeRows
    graft.dedup.NearDup.mergeIfBig(neu, bigNew)
      .join(graft.dedup.NearDup.mergeIfBig(seen.join(okBuckets, Seq("bucket")), bigSeen),
        Seq("bucket"))
      .filter(col("new_id") =!= col("seen_id"))
      .select(col("new_id"), col("seen_id"),
        round(VectorOps.cosineFromParts(
          VectorOps.dot(col("vec_new"), col("vec_seen")),
          col("n_new"), col("n_seen")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** A stored embed index resolved ONCE for a whole stream/session: the
    * geometry constants plus the seen side fully staged — tombstones
    * applied, over-cap buckets dropped, rows materialized via
    * localCheckpoint (lineage-free, true stats). Everything in here is
    * immutable for the life of the handle, which is exactly the fused
    * steady loop's contract: the index does not move while the stream
    * runs, so meta collects, index-file listings, bucket-cap
    * aggregations and corpus counts belong at stream START, not in the
    * per-batch hot loop (the r15 steady row paid all four per
    * micro-batch and ran 1.8× SLOWER than its from-raw twin).
    */
  final case class EmbedIndexHandle private[similarity] (
      bits: Int, dim: Int, seed: Long, maxBucket: Int,
      seen: DataFrame, bigSeen: Boolean)

  /** Resolve a stored embed near-dup index ([[writeEmbedNearDupIndex]])
    * into an [[EmbedIndexHandle]]: one meta read, one staging pass over
    * `path/vecs` (tombstone anti-join + bucket cap), one materialize,
    * one count. Per-probe cost against the handle is then pure batch
    * work — see [[embeddingNearDupsAgainstHandle]].
    *
    * Scale note: the handle pins the LIVE capped index in executor
    * storage (memory, spilling to local disk). That is the right trade
    * for a stream that will probe the same index every micro-batch; a
    * ONE-SHOT probe of a huge index should keep using the path-based
    * [[embeddingNearDupsAgainstIndex]], whose partition-pruned read
    * touches only the batch's buckets and stages nothing.
    */
  def openEmbedNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            maxBucket: Int = 1000): EmbedIndexHandle = {
    val meta = Tables.parquet(spark, s"$path/meta").collect().head
    val (bits, dim, seed) =
      (meta.getAs[Int]("nbits"), meta.getAs[Int]("dim"), meta.getAs[Long]("seed"))
    val staged = minusEmbedTombstones(spark,
      Tables.parquet(spark, s"$path/vecs")
        .select(col("bucket").cast("long").as("bucket"),
          col("id").as("seen_id"), col("vec").as("vec_seen"),
          col("nrm").as("n_seen")),
      path)
    val okBuckets = staged.groupBy("bucket").count()
      .filter(col("count") <= maxBucket).select("bucket")
    // pre-partition by the join key BEFORE pinning: the cached side then
    // satisfies every per-batch bucket join's distribution requirement,
    // so only the (small) batch side shuffles each micro-batch
    val seen = staged.join(okBuckets, Seq("bucket"))
      .repartition(col("bucket")).localCheckpoint()
    val bigSeen = seen.count() > graft.dedup.NearDup.BroadcastSafeRows
    EmbedIndexHandle(bits, dim, seed, maxBucket, seen, bigSeen)
  }

  /** Resolve a RAW seen-vector corpus into an [[EmbedIndexHandle]] — the
    * from-raw analogue of [[openEmbedNearDupIndex]] for a stream gating
    * against a STATIC in-session corpus with no stored index. The seen
    * side's staging (bucket+norm pass, bucket-cap aggregation,
    * broadcast-safety count) is a pure function of the static corpus, so
    * it belongs at stream START, not inside every micro-batch:
    * per-batch [[embeddingNearDupsAgainstCorpus]] re-paid two full
    * passes over the seen corpus plus a count in EVERY micro-batch
    * (guide §2.4 — remove the repeated work outright; the r16
    * handle-hoist class fix, extended to the from-raw loop). Identical
    * pairs by construction: same planes, same caps (per-bucket totals of
    * the same static corpus), same cosine law — only WHEN the seen side
    * is staged changes. Same memory trade as the stored-index handle:
    * the capped staged corpus is pinned via localCheckpoint for the
    * stream's life; a one-shot batch check should keep calling
    * [[embeddingNearDupsAgainstCorpus]], which stages nothing.
    */
  def openEmbedNearDupCorpus(seenVecs: DataFrame,
                             nBits: Int = AutoBits, dim: Int = 64,
                             seed: Long = 42L, maxBucket: Int = 1000,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding"): EmbedIndexHandle = {
    val bits = resolveBits(nBits, seenVecs)
    val planes = hyperplanes(bits, dim, seed)
    val staged = requireDim(
        seenVecs.select(col(idCol).as("seen_id"), col(vecCol).as("vec_seen")),
        col("vec_seen"), dim, "openEmbedNearDupCorpus")
      .withColumn("bucket", bucketExpr(col("vec_seen"), planes))
      .withColumn("n_seen", VectorOps.norm(col("vec_seen")))
      .select(col("bucket"), col("seen_id"), col("vec_seen"), col("n_seen"))
    val okBuckets = staged.groupBy("bucket").count()
      .filter(col("count") <= maxBucket).select("bucket")
    // same pre-partition-by-join-key pin as the stored-index open: the
    // cached side satisfies every per-batch bucket join's distribution
    // requirement, so only the batch side shuffles each micro-batch
    val seen = staged.join(okBuckets, Seq("bucket"))
      .repartition(col("bucket")).localCheckpoint()
    val bigSeen = seen.count() > graft.dedup.NearDup.BroadcastSafeRows
    EmbedIndexHandle(bits, dim, seed, maxBucket, seen, bigSeen)
  }

  /** [[embeddingNearDupsAgainstIndex]] against a pre-resolved
    * [[EmbedIndexHandle]] — identical pairs by construction (same
    * geometry, same live set, same caps; the cap decisions are
    * per-bucket totals either way), but the per-call cost is ONLY batch
    * work: stage the batch, list its buckets, filter the cached seen
    * side, one bucket equi-join. No meta collect, no index listing, no
    * cap re-aggregation, no history-sized count — those were paid once
    * in [[openEmbedNearDupIndex]].
    */
  def embeddingNearDupsAgainstHandle(newVecs: DataFrame,
                                     handle: EmbedIndexHandle,
                                     threshold: Double,
                                     idCol: String = "vec_id",
                                     vecCol: String = "embedding"): DataFrame = {
    val planes = hyperplanes(handle.bits, handle.dim, handle.seed)
    val neu = requireDim(
        newVecs.select(col(idCol).as("new_id"), col(vecCol).as("vec_new")),
        col("vec_new"), handle.dim, "embeddingNearDupsAgainstHandle")
      .withColumn("bucket", bucketExpr(col("vec_new"), planes))
      .withColumn("n_new", VectorOps.norm(col("vec_new")))
      // two consumers (bucket list + candidate join) and true stats
      .localCheckpoint()
    // ONE action yields the bucket list AND the batch row count (sum of
    // the complete per-bucket counts) — the separate count() job this
    // replaces was one more fixed action in every micro-batch (§2.4)
    val bucketCounts = neu.groupBy("bucket").agg(count(lit(1)).as("__c"))
      .limit(1025).collect()
    val batchBuckets = bucketCounts.map(_.getLong(0))
    // narrow the cached seen side to the batch's buckets — an in-memory
    // filter (the cached analogue of the path variant's partition
    // prune); a saturating batch (>1024 buckets) skips the inert filter
    val seen =
      if (batchBuckets.length <= 1024)
        handle.seen.filter(col("bucket").isin(batchBuckets.map(b => b: Any): _*))
      else handle.seen
    // a truncated bucket list already proves the batch is not tiny —
    // treat it as big (the conservative, merge-hinted side) rather than
    // paying a count job to learn the exact number
    val bigNew =
      if (batchBuckets.length > 1024) true
      else bucketCounts.map(_.getLong(1)).sum > graft.dedup.NearDup.BroadcastSafeRows
    graft.dedup.NearDup.mergeIfBig(neu, bigNew)
      .join(graft.dedup.NearDup.mergeIfBig(seen, handle.bigSeen), Seq("bucket"))
      .filter(col("new_id") =!= col("seen_id"))
      .select(col("new_id"), col("seen_id"),
        round(VectorOps.cosineFromParts(
          VectorOps.dot(col("vec_new"), col("vec_seen")),
          col("n_new"), col("n_seen")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Recall@k of an approximate top-k result against the exact one —
    * the evaluation every ANN deployment needs before trusting an index
    * (and the number the IVF/LSH knob guidance in BASELINE.md is stated
    * in). Both inputs use the (qid, rank, cid) shape the operators above
    * emit; `exact` is truncated to rank ≤ k so a longer ground-truth
    * list can be reused across k values.
    *
    * Per query: `n_hits = |approx ∩ exact|`, `recall = n_hits /
    * |exact truth list|`. The denominator is the per-query truth size
    * (≤ k), NOT the constant k: when the corpus is smaller than k+1 or a
    * truth list is short, dividing by k would systematically
    * underestimate and cap recall below 1.0. Queries absent from `exact`
    * have no defined truth and are excluded (recall is a property of the
    * ground-truth set). Scale shape: both sides are |queries|·k rows —
    * microscopic next to the corpus — so this is a keyed semi-join +
    * partial count; every truth query appears in the output even at
    * recall 0.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val a = approx.select(col("qid"), col("cid"))
    val e = exact.filter(col("rank") <= k).select(col("qid"), col("cid"))
    val hits = e.join(a, Seq("qid", "cid"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hits"))
    e.groupBy("qid").agg(count(lit(1)).as("__n_truth"))
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("qid"), col("n_hits"),
              round(col("n_hits") / col("__n_truth"), 6).as("recall"))
  }
}
