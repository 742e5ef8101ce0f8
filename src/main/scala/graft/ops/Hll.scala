package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.dedup.NearDup

/** HyperLogLog distinct-count sketches with PERSISTABLE, MERGEABLE
  * register segments (Flajolet et al., "HyperLogLog: the analysis of a
  * near-optimal cardinality estimation algorithm" — public).
  *
  * Spark has `approx_count_distinct`, but its sketch lives and dies
  * inside one aggregation: the registers are not a table you can store,
  * ship, or merge with last month's. At lake scale the USEFUL form of a
  * distinct count is exactly that table — "distinct users ever seen",
  * maintained by appending a small per-batch segment and merging at
  * read, never re-scanning history (the same append-only segment-stats
  * design as the BM25 index's df/n rows). This module makes the sketch
  * a first-class dataset:
  *
  *  - [[registers]]: per (key, register) max leading-zero rank — 60-bit
  *    md5-derived hashes, integer-exact, so the register table is
  *    bit-stable at any parallelism AND replayable by an external
  *    engine (max is order-free; no float enters the sketch);
  *  - [[mergeRegisters]]: segment union = groupBy max — associative,
  *    commutative, idempotent, so batch boundaries cannot change the
  *    merged sketch (union-of-sketches ≡ sketch-of-union BY ALGEBRA,
  *    not by testing);
  *  - [[estimate]]: the HLL estimator with the indicator sum kept as an
  *    exact BIGINT (Σ 2^(p−M_j) — every term a power of two, summed at
  *    scale 2^p, so no float accumulation order exists) and ONE
  *    division + the standard small-range linear-counting branch at the
  *    end, micro-unit quantized for the oracle contract.
  *
  * Scale shape: the only exchange is the (key, reg) partial-max — at
  * m = 64 registers, ≤ 64·|keys| rows per partition regardless of row
  * count; values never shuffle. A segment is ≤ 64·|keys| rows per
  * batch. Reading "distinct over all history" costs a scan of segment
  * rows (sketch-sized, not data-sized) + one merge agg.
  */
object Hll {

  /** Register-index width: m = 2^bits registers; md5Long supplies 60
    * hash bits, the low `bits` select the register and the remaining
    * p = 60 − bits bits feed the rank.
    */
  val Bits = 6
  val M: Int = 1 << Bits          // 64 registers
  val P: Int = 60 - Bits          // 54 rank bits
  private val Alpha = 0.709       // alpha_64 (Flajolet et al., m = 64)

  /** rho(rest) = position of the leftmost 1-bit among the p rank bits
    * (1-based), p+1 when all zero — via the length of the minimal
    * binary string (`bin`), identical in Spark and DuckDB, so the rank
    * is integer arithmetic end to end.
    */
  private def rho(rest: Column): Column =
    when(rest === 0L, lit(P + 1))
      .otherwise(lit(P + 1) - length(bin(rest)))

  /** Per-(key, register) max rank: the sketch as a DataFrame
    * (keyCols..., reg, maxrho). One narrow pass + one m-bounded
    * partial-max exchange; registers never observed stay absent
    * (0-valued implicitly — [[estimate]] accounts for them).
    */
  def registers(df: DataFrame, keyCols: Seq[String], valCol: String): DataFrame = {
    val h = NearDup.md5Long(col(valCol).cast("string"))
    df.select(keyCols.map(col) :+ h.as("h"): _*)
      .select(keyCols.map(col) :+ (col("h") % M).as("reg") :+
        shiftright(col("h"), Bits).as("rest"): _*)
      .select(keyCols.map(col) :+ col("reg") :+ rho(col("rest")).as("rho"): _*)
      .groupBy(keyCols.map(col) :+ col("reg"): _*)
      .agg(max(col("rho")).as("maxrho"))
  }

  /** Union of sketch segments: groupBy max — the merge is the same
    * aggregate that built the segments, so merging is associative and
    * idempotent by construction.
    */
  def mergeRegisters(segments: DataFrame, keyCols: Seq[String]): DataFrame =
    segments.groupBy(keyCols.map(col) :+ col("reg"): _*)
      .agg(max(col("maxrho")).as("maxrho"))

  /** Per-key cardinality estimate from (merged) registers:
    * (keyCols..., v_zero, t_scaled, est_micro) where `v_zero` counts
    * empty registers, `t_scaled` = Σ 2^(p − M_j) EXACTLY in BIGINT
    * (empty registers contribute 2^p each), and `est_micro` is the HLL
    * estimate — alpha·m²·2^p / t with the linear-counting branch below
    * 2.5·m — quantized to micro-units. The two integer columns pin the
    * sketch; the float appears in exactly one expression whose shape
    * the oracle repeats verbatim.
    */
  def estimate(regs: DataFrame, keyCols: Seq[String]): DataFrame = {
    val twoP = 1L << P // 2^54
    val merged = regs.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("nreg"),
        // each term is an exact power of two at scale 2^p; the sum is a
        // plain BIGINT — no float accumulation order exists to disagree on.
        // greatest(..., 0) clamps the rho = p+1 all-rank-bits-zero case
        // (probability 2^-54 per value, but unclamped it shifts by -1,
        // which Java wraps to 1L<<63 and silently corrupts t_scaled;
        // standard HLL folds that case into rank p — error ≤ 2^-55)
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), greatest($P - maxrho, 0))")).as("t_present"))
      .withColumn("v_zero", (lit(M.toLong) - col("nreg")).cast(LongType))
      .withColumn("t_scaled", col("t_present") + col("v_zero") * lit(twoP))
    // E_raw = alpha · m² · (2^p / t) — one cast, one division, two
    // multiplications, written in the identical order in the oracle SQL
    val eRaw = lit(Alpha) * lit((M.toLong * M).toDouble) *
      (lit(twoP.toDouble) / col("t_scaled").cast("double"))
    val est = when(col("v_zero") > 0 && eRaw <= lit(2.5 * M),
      lit(M.toDouble) * log(lit(M.toDouble) / col("v_zero").cast("double")))
      .otherwise(eRaw)
    merged.select(keyCols.map(col) :+ col("v_zero") :+ col("t_scaled") :+
      round(est * lit(1e6)).cast(LongType).as("est_micro"): _*)
  }

  /** [[registers]] → [[estimate]] in one call — the ad-hoc form. */
  def distinctSketch(df: DataFrame, keyCols: Seq[String], valCol: String): DataFrame =
    estimate(registers(df, keyCols, valCol), keyCols)

  /** Persist a batch's registers as an append-only segment — the ingest
    * verb. Segments are sketch-sized (≤ m·|keys| rows per batch). With
    * `batchId` set, the segment lands under a `batch_id=<id>` partition
    * with dynamic overwrite (the [[Segments]] exactly-once convention) —
    * HLL merge is idempotent (max), so retries were never WRONG here,
    * but keying them keeps file counts from growing on every retry and
    * matches the rest of the segment family.
    */
  def writeSegments(df: DataFrame, keyCols: Seq[String], valCol: String,
                    path: String, batchId: Option[Long] = None): Unit =
    // repartition(1) AFTER the agg (coalesce would collapse the
    // aggregation itself to one reducer): the register table is sketch-sized (≤ m·|keys| rows)
    // but arrives on shuffle partitioning — without this every segment
    // write fans out one near-empty file per partition (512 files per
    // segment in the 1000× soak, and q_hll_incremental read 19× on 10×
    // data mostly from segment-file churn)
    Segments.writer(registers(df, keyCols, valCol).repartition(1),
        mode = "append", batchId = batchId)
      .partitionBy("batch_id").parquet(path)

  /** Distinct estimate over ALL history from the stored segments: merge
    * (groupBy max) + estimate — history is never re-scanned; the read
    * cost is the segment table, which is sketch-sized.
    */
  def estimateFromSegments(spark: SparkSession, path: String,
                           keyCols: Seq[String]): DataFrame =
    estimate(mergeRegisters(Tables.parquet(spark, path), keyCols), keyCols)

  /** Pairwise distinct-set OVERLAP between every two keys, by
    * inclusion–exclusion over the register algebra: for each unordered
    * key pair (ka < kb), `|A ∩ B| ≈ est(A) + est(B) − est(A ∪ B)` where
    * the union estimate comes from MERGING the two keys' registers
    * (groupBy max — the same algebra [[mergeRegisters]] relies on, so
    * the union sketch is exactly the sketch the union of the two
    * corpora would have produced). This is the published HLL
    * set-operation recipe (Flajolet et al. §4: sketches union natively;
    * intersections fall out by inclusion–exclusion) and the standard
    * corpus-curation question it answers is "how much does source A's
    * vocabulary/user base/url set overlap source B's" WITHOUT a
    * corpus×corpus join.
    *
    * Returns one row per pair:
    * (ka, kb, est_a_micro, est_b_micro, est_union_micro,
    *  est_inter_micro, jaccard_micro) — the intersection is the integer
    * inclusion–exclusion over the three already-quantized estimates,
    * clamped at 0 (estimation error can drive small true intersections
    * negative; a clamped 0 is the honest "no measurable overlap"), and
    * `jaccard_micro = round(1e6 · inter / union)` from the same
    * quantized integers, so every derived column is replayable integer
    * arithmetic plus the one estimator float shape per key set.
    *
    * Scale shape (100 TB): the ONLY corpus-sized work is [[registers]]
    * (one narrow pass + an m-bounded partial-max exchange). Everything
    * here operates on the m·|keys| register table: the pair fan-out is
    * two sketch-side equi-joins against the |keys|² pair list and a
    * (ka, kb, reg) max — ≤ m·|keys|² rows, independent of corpus size.
    * Estimating all C(1000, 2) pairwise overlaps of 1000 sources costs
    * ~32 M tiny rows, not 499 500 corpus self-joins.
    */
  def pairwiseOverlap(regs: DataFrame, keyCol: String): DataFrame = {
    val keys = regs.select(col(keyCol)).distinct()
    val pairs = keys.select(col(keyCol).as("ka"))
      .crossJoin(keys.select(col(keyCol).as("kb")))
      .filter(col("ka") < col("kb"))
    // union registers per pair: each pair pulls both keys' register
    // rows (two equi-joins, no OR-condition nested loop), then the
    // groupBy max IS the sketch union
    val ra = regs.select(col(keyCol).as("ka"), col("reg"), col("maxrho"))
    val rb = regs.select(col(keyCol).as("kb"), col("reg"), col("maxrho"))
    val unionRegs = pairs.join(ra, "ka").select("ka", "kb", "reg", "maxrho")
      .unionByName(pairs.join(rb, "kb").select("ka", "kb", "reg", "maxrho"))
      .groupBy("ka", "kb", "reg").agg(max(col("maxrho")).as("maxrho"))
    val estU = estimate(unionRegs, Seq("ka", "kb"))
      .select(col("ka"), col("kb"), col("est_micro").as("est_union_micro"))
    val singles = estimate(regs, Seq(keyCol))
    val estA = singles.select(col(keyCol).as("ka"), col("est_micro").as("est_a_micro"))
    val estB = singles.select(col(keyCol).as("kb"), col("est_micro").as("est_b_micro"))
    estU.join(estA, "ka").join(estB, "kb")
      .withColumn("est_inter_micro",
        greatest(col("est_a_micro") + col("est_b_micro") - col("est_union_micro"),
          lit(0L)))
      .withColumn("jaccard_micro",
        round(col("est_inter_micro").cast("double") * lit(1e6)
          / col("est_union_micro").cast("double")).cast(LongType))
      .select("ka", "kb", "est_a_micro", "est_b_micro", "est_union_micro",
        "est_inter_micro", "jaccard_micro")
  }
}
