package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Tables

/** Deterministic top-principal-component extraction over an embedding
  * corpus — the analysis primitive behind embedding-drift monitoring,
  * one-dimensional corpus ordering ("sort by the dominant axis of
  * variation"), and projection-based outlier triage in a training-data
  * pipeline.
  *
  * Method: classical power iteration on the (uncentered-scale-free)
  * covariance matrix, run entirely in fixed point so the trained
  * component is BIT-IDENTICAL at any parallelism and replayable by an
  * external SQL engine (the same contract as [[Kmeans]]' fixed-point
  * recentering and `LinearModel`'s integer perceptron):
  *
  *  - each vector component is quantized once to `2^scaleBits` units
  *    (HALF_UP, matching DuckDB/Spark ROUND);
  *  - per-dimension means are exact integer sums followed by one
  *    truncating division (sign · |sum| div n — identical in Scala
  *    BigInt, Spark `div`, and DuckDB `//` on the absolute value);
  *  - the d×d covariance accumulates exact integer products, so the
  *    partition-merge order cannot change a single bit;
  *  - the iteration itself runs on the d×d integer matrix with
  *    arbitrary-precision arithmetic, renormalizing each round to
  *    `2^scaleBits` by truncating division against the max-|entry|.
  *
  * Scale shape: ONE narrow pass for the means (d-sized aggregate), one
  * narrow pass for the covariance — the d²-per-row pair fan-out happens
  * inside the scan stage (posexplode × posexplode, both codegen'd, the
  * i ≤ j triangle only), and the exchange carries per-partition partial
  * sums (|partitions| · d(d+1)/2 tiny rows), never vectors. The only
  * driver materialization is the d(d+1)/2-entry covariance — the model,
  * not data (32 KB at d = 64), exactly the bounded move [[Kmeans]] makes
  * for its centroid table. The iteration is driver-side arithmetic on
  * that matrix: free at any corpus size. Projection is a single
  * shuffle-free map pass (a d-term codegen'd dot product per row).
  *
  * Overflow budget: |x| ≤ 2 per component (unit-norm embeddings) keeps
  * a quantized value under 2^(scaleBits+1); a covariance entry then
  * fits 2^(2·scaleBits+2) · n — at the default scaleBits = 18 that is
  * ~2.7e12 · n, safely inside Int64 up to n ≈ 3·10⁶ rows per entry and
  * checked nowhere else because the iteration is BigInt. At larger
  * corpora, lower scaleBits (the spec pins the bound, not this comment).
  */
object Pca {

  /** Per-dimension fixed-point means: (pos, n, mfx) where
    * mfx = sign(Σfx) · (|Σfx| div n) — truncating division so DuckDB's
    * `//` on the absolute value replays it exactly.
    */
  def meansFx(corpus: DataFrame, vecCol: String = "embedding",
              scaleBits: Int = 18): DataFrame = {
    require(scaleBits > 0 && scaleBits < 30, s"scaleBits=$scaleBits out of (0, 30)")
    val scale = (1L << scaleBits).toDouble
    corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("pos"), round(col("v").cast("double") * scale).cast("long").as("fx"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum(col("fx")).as("sfx"))
      .select(col("pos"), col("n"),
        (when(col("sfx") < 0, lit(-1L)).otherwise(lit(1L)) *
          expr("abs(sfx) div n")).as("mfx"))
  }

  /** [[meansFx]] folded to a driver vector (d longs — the model move). */
  def meansVec(corpus: DataFrame, dim: Int, vecCol: String = "embedding",
               scaleBits: Int = 18): Seq[Long] = {
    val m = meansFx(corpus, vecCol, scaleBits)
      .select("pos", "mfx").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until dim).map(i => m.getOrElse(i, 0L))
  }

  /** Centered fixed-point vectors as a d-slot array column built from d
    * EXPLICIT expressions (no higher-order function — those are
    * CodegenFallback; see NOTES round-1): dxv[i] = round(x[i]·2^b) − mfx[i].
    */
  private def centeredCol(means: Seq[Long], vecCol: String, scaleBits: Int) = {
    val scale = (1L << scaleBits).toDouble
    array(means.indices.map { i =>
      round(element_at(col(vecCol), i + 1).cast("double") * scale)
        .cast("long") - lit(means(i))
    }: _*)
  }

  /** Upper-triangle covariance in exact integers: (i, j, cfx) for
    * i ≤ j, cfx = Σ_rows dxv[i]·dxv[j]. The pair fan-out is two chained
    * posexplodes inside the scan stage — no self-join, no shuffle of
    * vectors; only d(d+1)/2 partial sums per partition reach the
    * exchange.
    *
    * The per-row product fits a long comfortably (|dx| ≤ ~2^19 at the
    * default scaleBits, product ≤ 2^38), but a LONG running sum wraps
    * past ~3e6 rows and an all-DECIMAL(38,0) sum costs ~8× on the hot
    * pass (measured 7.5 → 60 s at 100× when this accumulator briefly
    * went all-decimal). So the sum is TWO-LEVEL exact: a LONG partial
    * per (i, j, input partition) — bounded by rows-per-partition
    * (overflow needs > 2^25 ≈ 33 M rows in ONE scan partition, ~25 GB
    * at default maxPartitionBytes; ANSI mode errors loudly, never
    * wraps, if a pathological layout gets there) — then a DECIMAL(38,0)
    * merge over the tiny (d(d+1)/2 · |partitions|)-row partial table:
    * exact to ~10^26 rows total. Integer addition is associative, so
    * the grouping cannot change a bit of the result.
    */
  def covarianceFx(corpus: DataFrame, means: Seq[Long],
                   vecCol: String = "embedding", scaleBits: Int = 18): DataFrame =
    corpus
      .select(centeredCol(means, vecCol, scaleBits).as("dxv"))
      // salt = the INPUT PARTITION id, deliberately: constant within a
      // task, so the map-side partial agg holds only d(d+1)/2 groups
      // (a random hash salt measured 54.9 s vs 15.3 s at 100× — 1024
      // live groups per task per cell blow the partial-agg hash map)
      .withColumn("pid", spark_partition_id())
      .select(col("pid"), col("dxv"), posexplode(col("dxv")).as(Seq("i", "dxi")))
      .select(col("pid"), col("i"), col("dxi"), posexplode(col("dxv")).as(Seq("j", "dxj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j", "pid")
      .agg(sum(col("dxi") * col("dxj")).as("part"))
      .groupBy("i", "j")
      .agg(sum(col("part").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("cfx"))

  /** Fixed-point power iteration on the collected covariance: `iters`
    * rounds of v ← C·v renormalized to 2^scaleBits by truncating
    * division against max|entry| (floored at 1), seeded with 2^scaleBits
    * on the largest-variance dimension (smallest index on ties), signed
    * so the largest-|loading| dimension (smallest index on ties) is
    * positive. Every step is integer arithmetic — the returned loadings
    * are bit-stable across runs, partitionings, and engines.
    */
  def topComponentFx(corpus: DataFrame, dim: Int,
                     vecCol: String = "embedding", scaleBits: Int = 18,
                     iters: Int = 12): Seq[Long] = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val means = meansVec(corpus, dim, vecCol, scaleBits)
    val c = Array.ofDim[BigInt](dim, dim)
    for (i <- 0 until dim; j <- 0 until dim) c(i)(j) = BigInt(0)
    covarianceFx(corpus, means, vecCol, scaleBits).collect().foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), BigInt(r.getDecimal(2).toBigInteger))
      c(i)(j) = v
      c(j)(i) = v
    }
    powerIterate(c, dim, scaleBits, iters)
  }

  /** The shared driver-side iteration: `iters` rounds of v ← C·v on a
    * collected BigInt covariance, renormalized and signed exactly as
    * documented on [[topComponentFx]]. Pure integer arithmetic — both
    * the batch and the segment-merged paths funnel through this one
    * function, so their components can only differ if their covariance
    * MATRICES differ.
    */
  private def powerIterate(c: Array[Array[BigInt]], dim: Int,
                           scaleBits: Int, iters: Int): Seq[Long] = {
    val scale = BigInt(1L << scaleBits)
    val seedDim = (0 until dim).maxBy(i => (c(i)(i), -i))
    var v: IndexedSeq[BigInt] =
      (0 until dim).map(i => if (i == seedDim) scale else BigInt(0))
    for (_ <- 1 to iters) {
      val w = (0 until dim).map(i =>
        (0 until dim).foldLeft(BigInt(0))((s, j) => s + c(i)(j) * v(j)))
      val ma = w.map(_.abs).max.max(BigInt(1))
      v = w.map(x => (x.abs * scale / ma) * (if (x < 0) -1 else 1))
    }
    val mx = v.map(_.abs).max
    val first = v.indexWhere(_.abs == mx)
    val signed = if (v(first) < 0) v.map(-_) else v
    signed.map(_.toLong)
  }

  /** Per-row projection onto the trained component: one shuffle-free
    * codegen pass computing the d-term integer dot product
    * Σ dxv[i]·loading[i] (scale 2^2b — a BIGINT feature column ready for
    * range-partitioned ordering, drift histograms, or outlier gates).
    */
  def projectFx(corpus: DataFrame, means: Seq[Long], component: Seq[Long],
                idCol: String = "vec_id", vecCol: String = "embedding",
                scaleBits: Int = 18): DataFrame = {
    require(means.length == component.length,
      s"means dim ${means.length} != component dim ${component.length}")
    val scale = (1L << scaleBits).toDouble
    val terms = means.indices.map { i =>
      (round(element_at(col(vecCol), i + 1).cast("double") * scale)
        .cast("long") - lit(means(i))) * lit(component(i))
    }
    corpus.select(col(idCol).as("id"),
      terms.reduce(_ + _).as("proj_fx"))
  }

  /** Convenience: train on the corpus, project the corpus — the
    * embedding-drift / outlier-triage composition, two distributed
    * passes total (means+cov, then projection).
    */
  def fitProject(spark: SparkSession, corpus: DataFrame, dim: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 scaleBits: Int = 18, iters: Int = 12): DataFrame = {
    val means = meansVec(corpus, dim, vecCol, scaleBits)
    val comp = topComponentFx(corpus, dim, vecCol, scaleBits, iters)
    projectFx(corpus, means, comp, idCol, vecCol, scaleBits)
  }

  /** The component itself as a DataFrame (pos, loading_fx) — the model
    * table is the result set, [[graft.text.LinearModel]]-style.
    */
  def componentDf(spark: SparkSession, corpus: DataFrame, dim: Int,
                  vecCol: String = "embedding", scaleBits: Int = 18,
                  iters: Int = 12): DataFrame = {
    import spark.implicits._
    topComponentFx(corpus, dim, vecCol, scaleBits, iters)
      .zipWithIndex.map { case (l, i) => (i, l) }
      .toDF("pos", "loading_fx")
  }

  // ---------------------------------------------------------------------
  // Mergeable raw-moment segments — the INCREMENTAL covariance path
  // ---------------------------------------------------------------------

  /** One batch's exact raw moments as a model-sized table, via the
    * homogeneous-coordinate trick: extend each quantized vector with a
    * trailing constant-1 slot (gxv = [fx_0 … fx_{d−1}, 1]) and take the
    * upper-triangle pair sums ONCE —
    *
    *  - (i, j)  with i, j < d : Σ fx_i·fx_j   (second moments)
    *  - (i, d)                : Σ fx_i        (first moments — fx_i·1)
    *  - (d, d)                : n             (the count — 1·1)
    *
    * so one scan + one (d+1)(d+2)/2-row exchange carries EVERYTHING the
    * centered covariance needs. Because
    * Σ(fx_i−m_i)(fx_j−m_j) = S_ij − m_i·S_j − m_j·S_i + n·m_i·m_j holds
    * exactly for integer m_i, a union of segments reproduces
    * [[covarianceFx]] on the union of rows BIT-FOR-BIT — so the
    * segment-merged component is the batch component by algebra, the
    * same union-of-sketches ≡ sketch-of-union contract as
    * [[graft.ops.Hll]].
    *
    * Scale shape (100 TB): appending a day of embeddings costs one
    * narrow pass over the NEW rows; the historical corpus is never
    * re-scanned — refreshing the component reads only segment rows
    * ((d+1)(d+2)/2 per batch; ~2 k rows at d = 64) and iterates on the
    * driver. The accumulator is the same two-level exact sum as
    * [[covarianceFx]] (bounded LONG partials per input partition, tiny
    * DECIMAL(38,0) merge — all-decimal summing measured ~8× slower on
    * the hot pass). NOTE the raw second moments are UNCENTERED, so the
    * long-partial bound is tighter than the centered pass when the data
    * is far from the origin; unit-norm embeddings (|fx| ≤ 2^(b+1)) keep
    * the same 2^38-per-row budget.
    */
  def momentSegment(corpus: DataFrame, dim: Int, vecCol: String = "embedding",
                    scaleBits: Int = 18): DataFrame = {
    require(scaleBits > 0 && scaleBits < 30, s"scaleBits=$scaleBits out of (0, 30)")
    val scale = (1L << scaleBits).toDouble
    val gxv = array((0 until dim).map { i =>
      round(element_at(col(vecCol), i + 1).cast("double") * scale).cast("long")
    } :+ lit(1L): _*)
    corpus
      .select(gxv.as("gxv"))
      .withColumn("pid", spark_partition_id())
      .select(col("pid"), col("gxv"), posexplode(col("gxv")).as(Seq("i", "xi")))
      .select(col("pid"), col("i"), col("xi"), posexplode(col("gxv")).as(Seq("j", "xj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j", "pid")
      .agg(sum(col("xi") * col("xj")).as("part"))
      .groupBy("i", "j")
      .agg(sum(col("part").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .as("s"))
  }

  /** Persist one batch's moments as an append-only segment
    * ([[graft.ops.Segments]] conventions: batch_id outer partition,
    * dynamic overwrite per micro-batch for exactly-once retries,
    * repartition(1) because the table is model-sized).
    */
  def writeMomentSegments(corpus: DataFrame, dim: Int, path: String,
                          vecCol: String = "embedding", scaleBits: Int = 18,
                          batchId: Option[Long] = None): Unit =
    graft.ops.Segments.writer(momentSegment(corpus, dim, vecCol, scaleBits).repartition(1),
        mode = "append", batchId = batchId)
      .partitionBy("batch_id").parquet(path)

  /** Merged moments → centered covariance → the SAME [[powerIterate]] the
    * batch path runs. History is never re-scanned: the read is segment
    * rows summed per (i, j) — the merge is `sum`, associative and
    * commutative, so batch boundaries cannot change the component.
    */
  def componentFromMomentSegments(spark: SparkSession, path: String, dim: Int,
                                  scaleBits: Int = 18, iters: Int = 12): Seq[Long] =
    modelFromMomentSegments(spark, path, dim, scaleBits, iters)._2

  /** The full (means, component) model trained from stored segments —
    * everything [[projectFx]] needs, so "refresh the model from
    * history, project the NEW batch" never re-reads old data. Both
    * vectors are bit-identical to the batch-trained ones.
    */
  def modelFromMomentSegments(spark: SparkSession, path: String, dim: Int,
                              scaleBits: Int = 18,
                              iters: Int = 12): (Seq[Long], Seq[Long]) = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val merged = Tables.parquet(spark, path)
      .groupBy("i", "j")
      .agg(sum(col("s")).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> BigInt(r.getDecimal(2).toBigInteger))
      .toMap
    val n = merged.getOrElse((dim, dim), BigInt(0))
    require(n > 0, s"moment segments at $path are empty")
    def s1(i: Int) = merged.getOrElse((i, dim), BigInt(0))
    val mfx = (0 until dim).map { i =>
      val s = s1(i)
      (if (s < 0) -BigInt(1) else BigInt(1)) * (s.abs / n)
    }
    val c = Array.ofDim[BigInt](dim, dim)
    for (i <- 0 until dim; j <- i until dim) {
      val sij = merged.getOrElse((i, j), BigInt(0))
      val cij = sij - mfx(i) * s1(j) - mfx(j) * s1(i) + n * mfx(i) * mfx(j)
      c(i)(j) = cij
      c(j)(i) = cij
    }
    (mfx.map(_.toLong), powerIterate(c, dim, scaleBits, iters))
  }

  /** [[componentFromMomentSegments]] as the (pos, loading_fx) model
    * table — the segment-path twin of [[componentDf]].
    */
  def momentComponentDf(spark: SparkSession, path: String, dim: Int,
                        scaleBits: Int = 18, iters: Int = 12): DataFrame = {
    import spark.implicits._
    componentFromMomentSegments(spark, path, dim, scaleBits, iters)
      .zipWithIndex.map { case (l, i) => (i, l) }
      .toDF("pos", "loading_fx")
  }

  /** Per-dimension sufficient statistics sliced out of a (merged)
    * moment table: (pos, n, s1, s2) = count, Σfx, Σfx² — everything a
    * mean/variance/drift read needs, recovered from stored segments
    * without touching the corpus. All inputs are (i, j, s) rows; the
    * whole computation is sketch-sized.
    */
  def dimStats(moments: DataFrame, dim: Int): DataFrame = {
    // model-sized pin ((dim+1)² summed rows), three consumers below —
    // same rationale as [[dimCorrelationFromMoments]]
    val m = moments.groupBy("i", "j").agg(sum(col("s")).as("s"))
      .localCheckpoint()
    val n = m.filter(col("i") === dim && col("j") === dim)
      .select(col("s").as("n"))
    val s1 = m.filter(col("j") === dim && col("i") < dim)
      .select(col("i").as("pos"), col("s").as("s1"))
    val s2 = m.filter(col("i") === col("j") && col("i") < dim)
      .select(col("i").as("pos"), col("s").as("s2"))
    s1.join(s2, "pos").crossJoin(broadcast(n))
  }

  /** Per-dimension EMBEDDING DRIFT between two moment tables (reference
    * vs current — e.g. last month's segments vs this week's): the
    * Welch-style standardized mean shift
    *
    *   z_i = (meanA_i − meanB_i) / sqrt(varA_i/nA + varB_i/nB)
    *
    * computed from the exact integer sums in ONE float expression
    * (micro-quantized), with the integer columns (n, Σfx per side)
    * pinning the inputs — the [[graft.ops.Hll]] est_micro contract.
    * This is the drift-monitoring read the moment segments exist for:
    * comparing two corpus epochs costs two sketch-sized reads, never a
    * re-scan of either corpus. A dimension CONSTANT on both sides has
    * no variance to standardize against — its z_micro is NULL (an ANSI
    * cast of the raw ±inf/NaN would instead abort the whole job at the
    * first degenerate dimension, the wrong failure mode for a monitor).
    * A NEAR-constant dimension (tiny positive variance, large n) can
    * push |z| past what a BIGINT micro column holds — z saturates at
    * ±10⁹ (z_micro ±10¹⁵) instead of ANSI-aborting: unlike the NULL
    * branch, a saturated value still reads as "enormous drift", which
    * is the signal a monitor must not swallow (any true z beyond 10⁹
    * is already pure degenerate-variance territory).
    */
  def embeddingDrift(momentsA: DataFrame, momentsB: DataFrame, dim: Int): DataFrame = {
    def side(m: DataFrame, suffix: String) =
      dimStats(m, dim).select(col("pos"),
        col("n").cast(LongType).as(s"n_$suffix"),
        col("s1").cast(LongType).as(s"s1_$suffix"),
        col("s2").as(s"s2_$suffix"))
    val j = side(momentsA, "a").join(side(momentsB, "b"), "pos")
    def mean(s1: Column, n: Column) = s1.cast("double") / n.cast("double")
    def variance(s2: Column, s1: Column, n: Column) = {
      val mu = mean(s1, n)
      s2.cast("double") / n.cast("double") - mu * mu
    }
    val varSum =
      variance(col("s2_a"), col("s1_a"), col("n_a")) / col("n_a").cast("double") +
        variance(col("s2_b"), col("s1_b"), col("n_b")) / col("n_b").cast("double")
    val z = (mean(col("s1_a"), col("n_a")) - mean(col("s1_b"), col("n_b"))) /
      sqrt(varSum)
    // saturate before the ANSI cast (scaladoc: near-constant dims)
    val zSat = least(greatest(z, lit(-1e9)), lit(1e9))
    j.select(col("pos"), col("n_a"), col("s1_a"), col("n_b"), col("s1_b"),
      when(varSum > 0, round(zSat * lit(1e6)).cast(LongType))
        .otherwise(lit(null).cast(LongType)).as("z_micro"))
  }

  /** Pairwise DIMENSION correlation from a (merged) moment table: for
    * every i < j, the Pearson correlation of embedding dimensions i and
    * j over the corpus —
    *
    *   corr_ij = (n·S_ij − S_i·S_j) / sqrt((n·S_ii − S_i²)(n·S_jj − S_j²))
    *
    * — the redundancy audit over an embedding space ("which dimensions
    * carry the same signal"), computed ENTIRELY from segment rows: the
    * d(d+1)/2 sums are already on disk, so auditing a 100 TB corpus's
    * dimension structure costs a sketch-sized read. Numerators and the
    * two variance terms are exact integers (DECIMAL arithmetic — n·S_ij
    * at d=64/b=18 stays well inside 38 digits to ~10^10 rows); the one
    * float is the final ratio, micro-quantized. Zero-variance
    * dimensions yield NULL (same monitor contract as
    * [[embeddingDrift]]).
    */
  def dimCorrelationFromMoments(moments: DataFrame, dim: Int): DataFrame = {
    // model-sized pin ((dim+1)² summed rows): four consumers below (n,
    // s1, diag, pairs) — unpinned, each re-reads and re-sums the moment
    // segments (the r17 plan audit saw 7 scans of the segment store;
    // guide §2.4)
    val m = moments.groupBy("i", "j").agg(sum(col("s")).as("s"))
      .localCheckpoint()
    val n = m.filter(col("i") === dim && col("j") === dim).select(col("s").as("n"))
    val s1 = m.filter(col("j") === dim && col("i") < dim)
      .select(col("i").as("pos"), col("s").as("s1"))
    val diag = m.filter(col("i") === col("j") && col("i") < dim)
      .select(col("i").as("pos"), col("s").as("s2"))
    val sides = s1.join(diag, "pos").crossJoin(broadcast(n))
      // m2 = n·S_ii − S_i² — the exact integer variance numerator
      .select(col("pos"), col("s1"), (col("n") * col("s2") - col("s1") * col("s1")).as("m2"), col("n"))
    val pairs = m.filter(col("i") < col("j") && col("j") < dim)
      .select(col("i"), col("j"), col("s").as("sij"))
    val a = sides.select(col("pos").as("i"), col("s1").as("s1_i"), col("m2").as("m2_i"))
    val b = sides.select(col("pos").as("j"), col("s1").as("s1_j"), col("m2").as("m2_j"), col("n"))
    val joined = pairs.join(a, "i").join(b, "j")
      .withColumn("num", col("n") * col("sij") - col("s1_i") * col("s1_j"))
    val corr = col("num").cast("double") /
      sqrt(col("m2_i").cast("double") * col("m2_j").cast("double"))
    joined.select(col("i"), col("j"),
      when(col("m2_i") > 0 && col("m2_j") > 0,
        round(corr * lit(1e6)).cast(LongType))
        .otherwise(lit(null).cast(LongType)).as("corr_micro"))
  }

  private val LongType = org.apache.spark.sql.types.LongType
}
