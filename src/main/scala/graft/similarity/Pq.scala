package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.io.NioLocalFileSystem
import graft.ops.Tables

/** Product quantization for embedding compression + asymmetric-distance
  * ANN (Jégou, Douze, Schmid 2011, "Product Quantization for Nearest
  * Neighbor Search" — public): split each d-dim vector into `m`
  * contiguous subvectors, quantize every subvector to its nearest entry
  * in a per-subspace codebook of `ksub` entries, and a vector becomes
  * `m` small codes. Queries score compressed vectors WITHOUT decoding:
  * per query, a lookup table of query-subvector → codebook-entry
  * distances, and a corpus vector's (approximate squared-L2) distance is
  * the sum of `m` table lookups — the ADC formulation.
  *
  * Why this is the 100 TB memory story: a 64-dim float32 embedding is
  * 256 B; at m=4, ksub=16 the code is 4 nibbles. The encode is ONE
  * narrow codegen'd pass (no shuffle); after it, every ANN probe reads
  * the code column only — the raw vectors never move again.
  *
  * Determinism (the fixed-point discipline): codebooks are the md5
  * bottom-`ksub` row sample (no RNG; the [[Ivf.centroids]] contract),
  * encode argmins a ROUND(d², 6) with code-index tie-break, and ADC
  * scores are exact BIGINT sums of micro-unit quantized table entries —
  * an external engine replays sample → slice → encode → LUT → integer
  * ranking end to end, and partition merge order cannot perturb a sum
  * of longs.
  *
  * No Lloyd refinement here by default — sampled codebooks keep the
  * replay recursion-free; callers wanting trained books can run
  * [[Kmeans.updatedCentroids]] per subspace over the sliced corpus and
  * pass the result in.
  */
object Pq {

  /** Per-subspace codebooks: `books(s)(j)` is the j-th entry (ascending
    * md5-priority order, j ∈ [0, ksub)) of subspace s. All subspaces
    * slice the SAME sampled rows, so one sample pass trains every book.
    */
  final case class Codebooks(m: Int, dsub: Int, books: Seq[Seq[(Int, Seq[Double])]]) {
    require(books.length == m && books.forall(b => b.forall(_._2.length == dsub)),
      s"inconsistent codebooks: m=$m dsub=$dsub")
  }

  /** Deterministic sampled codebooks over a `dim`-dimensional corpus. */
  def sampledCodebooks(corpus: DataFrame, m: Int, ksub: Int, dim: Int = 64,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Codebooks = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(ksub >= 2, s"ksub=$ksub must be >= 2")
    val dsub = dim / m
    val sample = Ivf.centroids(corpus, ksub, idCol, vecCol) // md5-ordered
    Codebooks(m, dsub,
      (0 until m).map(s => sample.zipWithIndex.map { case ((_, v), j) =>
        j -> v.slice(s * dsub, s * dsub + dsub)
      }))
  }

  /** ROUND(‖sv − bv‖², 6) as `sv·sv − 2 sv·bv + bv·bv` — the expansion
    * keeps the per-row work at one codegen'd dot per codebook entry plus
    * one self-dot per subspace, with the entry's self-dot a compile-time
    * constant (same left-to-right fold an external engine's list
    * dot-product performs).
    */
  private def d2(sub: Column, selfDot: Column, bv: Seq[Double]): Column = {
    val blit = array(bv.map(lit): _*)
    round(selfDot - lit(2.0) * VectorOps.dot(sub, blit) + lit(bv.map(x => x * x).sum), 6)
  }

  /** The m × ksub × dsub entry tensor in ascending-j order — the shape
    * the [[graft.functions.PqKernels]] expressions take.
    */
  private def bookTensor(cb: Codebooks): Seq[Seq[Seq[Double]]] =
    cb.books.map(_.sortBy(_._1).map(_._2))

  /** Encode the corpus: (cid, codes) where `codes(s)` is the argmin
    * codebook entry of subspace s (ROUNDed d², index tie-break). One
    * narrow pass, no shuffle, fully codegen'd via the runtime-looped
    * [[graft.functions.PqKernels.codes]] kernel — the unrolled
    * `array_min(array(struct(…)))` form ([[encodeUnrolled]], bit-equal,
    * spec-pinned) blows janino's 64 KB method limit at m·ksub = 64 and
    * silently falls back to interpreted.
    */
  def encode(corpus: DataFrame, cb: Codebooks,
             idCol: String = "vec_id", vecCol: String = "embedding",
             passthrough: Seq[String] = Nil): DataFrame =
    corpus.select(col(idCol).as("cid") +:
      graft.functions.PqKernels.codes(col(vecCol), bookTensor(cb)).as("codes") +:
      passthrough.map(col): _*)

  /** The pre-round-14 unrolled encode — retained as the semantic
    * reference for the kernel-equivalence spec ONLY (it compiles to one
    * >64 KB generated method and runs interpreted after the janino
    * failure; never use it on a measured path).
    */
  private[graft] def encodeUnrolled(corpus: DataFrame, cb: Codebooks,
                                    idCol: String = "vec_id", vecCol: String = "embedding",
                                    passthrough: Seq[String] = Nil): DataFrame = {
    val codes = (0 until cb.m).map { s =>
      val sub = slice(col(vecCol), s * cb.dsub + 1, cb.dsub)
      val selfDot = VectorOps.dot(sub, sub)
      array_min(array(cb.books(s).map { case (j, bv) =>
        struct(d2(sub, selfDot, bv).as("d"), lit(j).as("j"))
      }: _*)).getField("j")
    }
    corpus.select(col(idCol).as("cid") +: array(codes: _*).as("codes") +:
      passthrough.map(col): _*)
  }

  /** ADC top-k: per query, per subspace, a micro-unit BIGINT lookup
    * table of d² to every codebook entry; a corpus vector's score is the
    * exact integer sum of its `m` looked-up entries, ranked ascending
    * with cid tie-break. The LUT is |queries|·m·ksub rows — broadcast —
    * and the scored stream partial-aggregates map-side, so the shuffle
    * carries (qid, cid, partial-sum) not raw code rows.
    *
    * Output: (qid, rank, cid, iscore) — iscore is approximate ‖q − x‖²
    * in micro units, an exact BIGINT on any engine.
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, cb: Codebooks, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // The exploded code table is PINNED before the broadcast join: fusing
    // scan + encode kernel + generate + BHJ into one codegen stage
    // measured 12x slower than the pinned split at 100x (74 s vs 7 s,
    // BASELINE.md "PQ fused-stage pathology"; `SPARK_GRAFT_SF_DIR=
    // <ScaleFixture dir> SPARK_GRAFT_ONLY=q_ann_ivfpq,q_ann_ivfpq_refined
    // sbt "runMain graft.Bench"` reruns both rows). The stage compiles,
    // so this is not the janino fallback; the fused consume loop just
    // defeats the kernel's per-row pipelining. The pinned table is
    // exactly the narrow (cid, s, code) layout the persistent index
    // stores — the from-raw form now materializes what writeIvfPqIndex
    // would persist.
    val enc = encode(corpus, cb, idCol, vecCol)
      .select(col("cid"), posexplode(col("codes")).as(Seq("s", "code")))
      .localCheckpoint()
    val lut = lutFor(queries, cb, idCol, vecCol)
    val scored = enc.join(broadcast(lut),
        enc("s") === lut("s") && enc("code") === lut("j"))
      .filter(col("cid") =!= col("qid"))
      .groupBy("qid", "cid").agg(sum(col("lutv")).as("iscore"))
    rankAsc(scored, k)
  }

  /** IVF-PQ (the composition Jégou et al. call IVFADC — coarse inverted
    * lists + product-quantized codes): queries probe their `nProbe`
    * nearest IVF cells and ADC-score ONLY the codes stored in those
    * cells. This is the canonical billion-scale layout — the candidate
    * set shrinks ~nProbe/nLists AND each candidate costs m table
    * lookups instead of a d-dim dot product; the raw vectors appear in
    * neither the probe nor the scoring path.
    *
    * `index` is [[Ivf.buildIndex]] output (cid, cvec, cell) — the same
    * inverted index the flat IVF probes, so one index serves both
    * scoring modes. Codes are computed from the index rows in the same
    * narrow pass that restricts to probed cells.
    *
    * Determinism: cell probe order and code assignment inherit the
    * Ivf/PQ contracts; scores are exact BIGINT sums, rank ties break on
    * cid — end-to-end oracle-replayable like both parents.
    */
  def ivfAdcTopK(index: DataFrame, queries: DataFrame,
                 cents: Seq[(Long, Seq[Double])], cb: Codebooks, k: Int,
                 nProbe: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    // pinned for the same measured reason as [[adcTopK]]'s enc (74 s vs
    // 7 s at 100x when fused with the cell-restriction BHJ)
    val enc = encode(index, cb, "cid", "cvec", passthrough = Seq("cell"))
      .select(col("cid"), col("cell"), posexplode(col("codes")).as(Seq("s", "code")))
      .localCheckpoint()
    val qc = Ivf.probedCells(queries, cents, nProbe, idCol, vecCol)
      .select(col("qid"), col("cell"))
    val lut = lutFor(queries, cb, idCol, vecCol)
    // cell restriction first (the smaller broadcast): |Q|·nProbe rows
    // against the code stream; then the LUT lookup keyed by (qid, s, j)
    val candidates = enc.join(broadcast(qc), Seq("cell"))
    val scored = candidates.join(broadcast(lut),
        candidates("qid") === lut("qid") && candidates("s") === lut("s")
          && candidates("code") === lut("j"))
      .filter(col("cid") =!= candidates("qid"))
      .groupBy(candidates("qid").as("qid"), col("cid")).agg(sum(col("lutv")).as("iscore"))
    rankAsc(scored, k)
  }

  /** Two-stage IVFADC retrieval with EXACT re-ranking — the "refine"
    * stage every production PQ deployment runs (Jégou et al. 2011 §V.D
    * call it IVFADC+R; public): stage 1 probes `nProbe` cells and
    * ADC-scores the compressed codes down to a SHORTLIST of `shortlist`
    * candidates per query (cheap, compressed-domain, slightly lossy);
    * stage 2 re-scores ONLY those |Q|·shortlist candidates against the
    * raw vectors with the exact squared-L2 distance and re-ranks to
    * top-k. Recall approaches exact search as `shortlist` grows while
    * the expensive full-precision work stays bounded by |Q|·shortlist —
    * never corpus-sized.
    *
    * Scale shape: the shortlist (|Q|·shortlist rows) and the query
    * vectors are broadcast; the raw-vector table is touched by ONE
    * broadcast-hash join on the scan (a semi-join-shaped candidate
    * filter — no corpus shuffle, no vectors on the wire beyond the
    * |Q|·shortlist matched rows).
    *
    * Determinism: stage 1 inherits the full IVFADC replay contract;
    * stage 2's exact d² is the micro-quantized `q·q − 2 q·x + x·x`
    * expansion (same left-to-right double folds both engines run, the
    * proven [[adcTopK]] LUT arithmetic), ranked ascending with cid
    * tie-break — end-to-end oracle-replayable.
    *
    * Output: (qid, rank, cid, iscore) — iscore is the EXACT ‖q − x‖² in
    * micro units (BIGINT), unlike the approximate iscore of
    * [[ivfAdcTopK]].
    */
  def ivfAdcRefineTopK(index: DataFrame, queries: DataFrame,
                       cents: Seq[(Long, Seq[Double])], cb: Codebooks, k: Int,
                       shortlist: Int, nProbe: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cand = ivfAdcTopK(index, queries, cents, cb, shortlist, nProbe, idCol, vecCol)
      .select(col("qid"), col("cid"))
    refineExact(index.select(col("cid"), col("cvec")), cand, queries, k, idCol, vecCol)
  }

  /** [[ivfAdcRefineTopK]] against the STORED index: the shortlist comes
    * from [[ivfAdcTopKAgainstIndex]] (partition-pruned code reads, no
    * raw vectors), then the exact re-rank reads the |Q|·shortlist
    * candidate rows out of `corpus` — the base table production keeps
    * the full-precision vectors in (the index deliberately stores only
    * codes; refine is exactly the read path that justifies that split).
    */
  def ivfAdcRefineTopKAgainstIndex(queries: DataFrame, path: String, corpus: DataFrame,
                                   k: Int, shortlist: Int, nProbe: Int = 4,
                                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val cand = ivfAdcTopKAgainstIndex(queries, path, shortlist, nProbe, idCol, vecCol)
      .select(col("qid"), col("cid"))
    refineExact(corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")),
      cand, queries, k, idCol, vecCol)
  }

  /** Exact-L2 re-rank of a (qid, cid) candidate table: one broadcast
    * candidate join on the raw-vector scan, micro-quantized exact d²,
    * ascending rank with cid tie-break. Both join sides that move are
    * query-sized by construction (|Q|·shortlist and |Q| rows).
    */
  private def refineExact(vecs: DataFrame, cand: DataFrame, queries: DataFrame,
                          k: Int, idCol: String, vecCol: String): DataFrame = {
    val qv = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val scored = vecs
      .join(broadcast(cand), "cid")
      .join(broadcast(qv), "qid")
      .select(col("qid"), col("cid"),
        round((VectorOps.dot(col("qv"), col("qv"))
          - lit(2.0) * VectorOps.dot(col("qv"), col("cvec"))
          + VectorOps.dot(col("cvec"), col("cvec"))) * lit(1e6)).cast("long").as("iscore"))
    rankAsc(scored, k)
  }

  // -------------------------------------------------------------------
  // Persistent IVF-PQ index (IVFADC at rest): centroids + codebooks +
  // cell-partitioned CODES live as parquet. This is the billion-scale
  // steady state — the stored table holds m small codes per vector, not
  // the vectors; a probe reads ~nProbe/nLists of the code column off
  // partition-pruned parquet and does zero clustering, zero codebook
  // training, zero encoding at query time.
  // -------------------------------------------------------------------

  /** Persist the IVFADC index at `path`: `path/centroids` = (cell, cv)
    * — [[Ivf.readCentroids]]-compatible; `path/codebooks` = (s, j, bv)
    * rows; `path/codes` = (cid, codes) written `partitionBy("cell")`,
    * so probes prune partitions exactly like the flat IVF lists. Raw
    * vectors are NOT stored — at 64-dim float32 vs m=4 codes that is
    * the 64× memory story, and the reason appends must encode with the
    * STORED codebooks (codebooks do not move between rebuilds).
    */
  def writeIvfPqIndex(corpus: DataFrame, nLists: Int, m: Int, ksub: Int,
                      path: String, dim: Int = 64,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    val cents = Ivf.centroids(corpus, nLists, idCol, vecCol)
    NioLocalFileSystem.write(spark.createDataFrame(cents).toDF("cell", "cv").coalesce(1))
      .mode("overwrite").parquet(s"$path/centroids")
    val cb = sampledCodebooks(corpus, m, ksub, dim, idCol, vecCol)
    val cbRows = for { s <- 0 until m; (j, bv) <- cb.books(s) } yield (s, j, bv)
    NioLocalFileSystem.write(spark.createDataFrame(cbRows).toDF("s", "j", "bv").coalesce(1))
      .mode("overwrite").parquet(s"$path/codebooks")
    val codes = encode(Ivf.buildIndex(corpus, cents, idCol, vecCol), cb, "cid", "cvec",
        passthrough = Seq("cell"))
      // repartition ON cell first — otherwise tasks × cells files per
      // rebuild (the [[Ivf.writeIvfIndex]] scale-hygiene rule)
      .repartition(col("cell"))
      .withColumn("batch_id", lit(-1L)) // segment dimension (Segments contract)
    NioLocalFileSystem.write(codes)
      .mode("overwrite").partitionBy("batch_id", "cell").parquet(s"$path/codes")
  }

  /** The stored codebooks, driver-side (m·ksub rows — the same bounded
    * collect the from-raw path's sample pass does).
    */
  def readPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      path: String): Codebooks = {
    val rows = Tables.parquet(spark, s"$path/codebooks").orderBy("s", "j").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val m = rows.map(_._1).max + 1
    Codebooks(m, rows.head._3.length,
      (0 until m).map(s => rows.filter(_._1 == s).map(t => (t._2, t._3)).toSeq))
  }

  /** Append an ingest batch: assign against the STORED centroids,
    * encode with the STORED codebooks, append codes. One narrow pass
    * over the batch; the index's semantics for existing rows are
    * untouched by construction. With `batchId` set (a streaming
    * [[graft.streaming.Ingest.drain]] batch), the segment is dynamically overwritten under
    * `batch_id=<id>` so a retried micro-batch cannot double-append.
    */
  def appendIvfPqIndex(newVecs: DataFrame, path: String,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       batchId: Option[Long] = None): Unit = {
    val spark = newVecs.sparkSession
    val cents = Ivf.readCentroids(spark, path)
    val cb = readPqCodebooks(spark, path)
    graft.ops.Segments.writer(
        encode(Ivf.buildIndex(newVecs, cents, idCol, vecCol), cb, "cid", "cvec",
          passthrough = Seq("cell"))
          .repartition(col("cell")), // one file per cell per batch, not tasks × cells
        "append", batchId)
      .partitionBy("batch_id", "cell").parquet(s"$path/codes")
  }

  /** [[ivfAdcTopK]] against the STORED index: centroids, codebooks and
    * codes all come off disk; the query-time work is the LUT build
    * (|queries|·m·ksub, broadcast) plus table lookups over the probed
    * cells' code rows. Semantics identical to the from-raw form
    * (spec-pinned). Deletions: [[Ivf.deleteFromIvfIndex]] on the same
    * `path` (shared tombstone layout) — probed codes are anti-joined
    * against the tombstones here.
    */
  def ivfAdcTopKAgainstIndex(queries: DataFrame, path: String, k: Int,
                             nProbe: Int = 4,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val spark = queries.sparkSession
    val cents = Ivf.readCentroids(spark, path)
    val cb = readPqCodebooks(spark, path)
    val qc = Ivf.probedCells(queries, cents, nProbe, idCol, vecCol)
      .select(col("qid"), col("cell"))
      .localCheckpoint() // reused: once for the cell list, once in the join
    val cells = qc.select("cell").distinct().collect().map(_.getLong(0)).toSeq
    val enc = Ivf.minusTombstones(spark,
        Tables.parquet(spark, s"$path/codes")
          .filter(col("cell").isin(cells: _*)) // static partition pruning
          .withColumn("cell", col("cell").cast("long")),
        path)
      .select(col("cid"), col("cell"), posexplode(col("codes")).as(Seq("s", "code")))
    val lut = lutFor(queries, cb, idCol, vecCol)
    val candidates = enc.join(broadcast(qc), Seq("cell"))
    val scored = candidates.join(broadcast(lut),
        candidates("qid") === lut("qid") && candidates("s") === lut("s")
          && candidates("code") === lut("j"))
      .filter(col("cid") =!= candidates("qid"))
      .groupBy(candidates("qid").as("qid"), col("cid")).agg(sum(col("lutv")).as("iscore"))
    rankAsc(scored, k)
  }

  /** Per-query ADC lookup table: (qid, s, j, lutv) — micro-unit BIGINT
    * d²(query-subvector, codebook entry); |queries|·m·ksub rows,
    * broadcast at every use site. The flat per-row table comes from the
    * runtime-looped [[graft.functions.PqKernels.lut]] kernel (one small
    * generated loop nest) and (s, j) are recovered from the slot index —
    * the unrolled explode-of-64-literal-structs form ([[lutForUnrolled]],
    * bit-equal, spec-pinned) was the round-13 janino 64 KB failure.
    */
  private[graft] def lutFor(queries: DataFrame, cb: Codebooks,
                     idCol: String, vecCol: String): DataFrame = {
    val ksub = cb.books.head.length
    queries
      .select(col(idCol).as("qid"),
        posexplode(graft.functions.PqKernels.lut(col(vecCol), bookTensor(cb)))
          .as(Seq("idx", "lutv")))
      .select(col("qid"),
        floor(col("idx") / lit(ksub)).cast("int").as("s"),
        (col("idx") % lit(ksub)).cast("int").as("j"),
        col("lutv"))
  }

  /** The pre-round-14 unrolled LUT — the kernel-equivalence spec's
    * reference form only (interpreted after the janino failure).
    */
  private[graft] def lutForUnrolled(queries: DataFrame, cb: Codebooks,
                                    idCol: String, vecCol: String): DataFrame = {
    val lutEntries = (0 until cb.m).flatMap { s =>
      val sub = slice(col(vecCol), s * cb.dsub + 1, cb.dsub)
      val selfDot = VectorOps.dot(sub, sub)
      cb.books(s).map { case (j, bv) =>
        struct(lit(s).as("s"), lit(j).as("j"),
          round((selfDot - lit(2.0) * VectorOps.dot(sub, array(bv.map(lit): _*))
            + lit(bv.map(x => x * x).sum)) * 1e6).cast("long").as("lutv"))
      }
    }
    queries
      .select(col(idCol).as("qid"), explode(array(lutEntries: _*)).as("e"))
      .select(col("qid"), col("e.s").as("s"), col("e.j").as("j"), col("e.lutv").as("lutv"))
  }

  private def rankAsc(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("iscore").asc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("cid"), col("iscore"))
  }
}
