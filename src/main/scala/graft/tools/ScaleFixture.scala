package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.NioLocalFileSystem
import graft.ops.Tables

/** Replicates a scale-factor directory `factor`× into a multi-file layout
  * for soak benchmarks (e.g. sf0.1 → an sf1-equivalent).
  *
  * Replication preserves the data's RELATIONAL shape instead of naively
  * stacking identical copies:
  *  - every key column (TPC-H-ish `*key` suffixes plus `event_id`/
  *    `user_id`/`doc_id`/`vec_id`) is shifted by `replica × 10¹²` — the
  *    same stride on both sides of every foreign key, so joins match
  *    within a replica and never across, and key cardinality scales with
  *    the data (windows/groupBys don't see artificially hot keys);
  *  - embedding vectors are cyclically rotated by the replica index
  *    (norm-preserving, direction-changing), so ANN/near-dup queries see
  *    `factor`× genuinely distinct vectors rather than `factor` exact
  *    copies of each (which would make bucketed candidate generation
  *    quadratic by construction and measure duplication, not the
  *    operator);
  *  - document text: VERBATIM by default (duplicated corpora are what
  *    dedup operators face — but clique depth then grows with `factor`,
  *    so cross-factor comparisons measure the fixture's n² cliques, not
  *    the operator). Pass `textDupDepth` D > 0 to pin duplication depth
  *    CONSTANT instead: a per-group salt token is interleaved between
  *    words (group = replica / D), so each document exists in exactly D
  *    verbatim copies, groups share zero word-3-gram shingles (every
  *    shingle contains the salt token), and dedup cost scales with the
  *    corpus — the mode that makes 100× vs 1000× linearity verdicts
  *    meaningful. (Single-token documents have no whitespace to salt and
  *    stay verbatim across groups — rare in the synthetic corpus.)
  *
  * The replica axis is a `crossJoin(broadcast(range(factor)))` with
  * column arithmetic on the replica id — ONE scan of the source however
  * large `factor` is (a union of `factor` plan branches dies in the
  * analyzer around a few hundred).
  *
  * Usage:
  *   sbt "runMain graft.tools.ScaleFixture /root/testdata/sf0.1 /tmp/sf1_soak 10 16"
  *   sbt "runMain graft.tools.ScaleFixture /root/testdata/sf0.1 /tmp/soak1000 1000 64 10"
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1_soak SPARK_GRAFT_CPUS=32 sbt "runMain graft.Bench"
  */
object ScaleFixture {
  private val keySuffixes = Seq("custkey", "orderkey", "partkey", "suppkey",
    "nationkey", "regionkey")
  private val keyExact = Set("event_id", "user_id", "doc_id", "vec_id")
  private val stride = 1000000000000L // same shift for every key → FKs survive

  private def isKey(name: String): Boolean =
    keyExact.contains(name) || keySuffixes.exists(s => name.endsWith(s))

  /** Zipf-vocabulary token rewrite: every token position becomes
    * `w<rank>` with rank drawn log-uniformly from [1, vocabSize] — the
    * standard inverse-CDF trick (rank = V^u for uniform u gives density
    * ∝ 1/rank, i.e. Zipf s=1). The uniform u is md5-derived from
    * (doc_id, replica, position), so the rewrite is deterministic and
    * every replica gets genuinely distinct text. Token COUNTS are
    * preserved exactly (dl/budget distributions unchanged); token
    * IDENTITY gets a web-corpus-shaped long tail instead of the
    * template fixture's ~32-token vocabulary — which made every bigram
    * hot, voided BM25 bucket pruning, and blew up wide phrase sweeps
    * (round-12 verdict: those soak rows measured the fixture, not the
    * operator).
    */
  private def zipfText(r: Column, vocabSize: Int): Column = {
    val toks = split(col("text"), "\\s+")
    val rewritten = zip_with(toks, sequence(lit(0), size(toks) - 1), (_, i) => {
      val h = graft.dedup.NearDup.md5Long(
        concat_ws(":", col("doc_id").cast("string"), r.cast("string"),
          i.cast("string")))
      val u = pmod(h, lit(1000000L)).cast("double") / lit(1e6)
      val rank = least(greatest(floor(pow(lit(vocabSize.toDouble), u)), lit(1.0)),
        lit(vocabSize.toDouble)).cast("long")
      concat(lit("w"), rank.cast("string"))
    })
    array_join(rewritten, " ").as("text")
  }

  private[graft] def scaled(df: DataFrame, factor: Int, dim: Int,
                            textDupDepth: Int, vocabSize: Int = 0): DataFrame = {
    val r: Column = col("__r")
    val cols = df.columns.map {
      case "embedding" if dim > 0 =>
        // rotate by r: element j takes value from (j + r) mod dim
        transform(sequence(lit(0), lit(dim - 1)),
          j => element_at(col("embedding"), ((j + r) % dim).cast("int") + 1))
          .cast("array<float>").as("embedding")
      case "text" if vocabSize > 0 && df.columns.contains("doc_id") =>
        zipfText(r, vocabSize)
      case "text" if textDupDepth > 0 =>
        regexp_replace(col("text"), lit("\\s+"),
          concat(lit(" dg"),
            floor(r / textDupDepth).cast("long").cast("string"), lit(" ")))
          .as("text")
      case c if isKey(c) => (col(c) + r * stride).as(c)
      case c => col(c)
    }
    df.crossJoin(broadcast(df.sparkSession.range(factor).toDF("__r")))
      .select(cols.toIndexedSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleFixture <srcSfDir> <outDir> [factor] [nFiles] [textDupDepth] [vocabSize]")
    val (src, out) = (args(0), args(1))
    val factor = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val nFiles = args.drop(3).headOption.map(_.toInt).getOrElse(16)
    val textDupDepth = args.drop(4).headOption.map(_.toInt).getOrElse(0)
    val vocabSize = args.drop(5).headOption.map(_.toInt).getOrElse(0)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt,
      nFiles)
    MultiFileFixture.tables.foreach { name =>
      val raw = Tables.parquet(spark, s"$src/$name.parquet")
      val dim =
        if (raw.columns.contains("embedding")) raw.select(size(col("embedding"))).head().getInt(0)
        else 0
      // Repartition the BASE, not the multiplied output: the source SF is
      // one file per table (one scan partition), so without this the
      // crossJoin materializes all factor× rows in a single task — and a
      // post-join repartition would shuffle the entire multiplied
      // dataset (tens of GB at 1000×) just to rebalance files. The
      // nested-loop join preserves the left side's partitioning, so
      // nFiles balanced input slices → nFiles balanced output files,
      // zero post-multiplication shuffle.
      val base = raw.repartition(nFiles)
      NioLocalFileSystem.write(scaled(base, factor, dim, textDupDepth, vocabSize))
        .mode("overwrite").parquet(s"$out/$name.parquet")
    }
    spark.stop()
  }
}
