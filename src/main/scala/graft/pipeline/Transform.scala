package graft.pipeline

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.NioLocalFileSystem
import graft.ops.{Cleansing, Dedup, Windows}

/** The reference's two transform chains, re-expressed as pure
  * `DataFrame => DataFrame` pipelines (SURVEY.md §3).
  *
  * Scale design: each chain is one lazy logical plan; Catalyst collapses
  * the per-step `withColumn`s into a single projection, pushes the null
  * filter into the scan, and plans exactly one exchange per distinct
  * window partitioning. The partitioned sinks use dynamic partition
  * overwrite so an incremental re-run of one day's file rewrites only the
  * partitions it touches — at 100 TB the job's write amplification is
  * bounded by the trigger file's key range, not the table size.
  */
object Transform {

  /** V2 chain (`etl/etl.py:39-86`, `etl/transform.py:37-93`):
    * select → distinct → fillna → sentinel date → renames → cast ts →
    * 7-row rolling avg per ticker (W1) → sector-day total (W2) →
    * partition-date format + drop transient.
    */
  def transformV2(df: DataFrame): DataFrame = {
    val selected = Cleansing.selectColumns(df, Schemas.rawV2.fieldNames.toSeq)
    val deduped = Dedup.dropExact(selected) // D1 `etl.py:49`
    val filled = Cleansing.fillDefaults(deduped, Map( // N1 `etl.py:50-58`
      "setor" -> "UNKNOWN", "codigo" -> "UNKNOWN", "acao" -> "UNKNOWN",
      "tipo" -> "UNKNOWN",
      "porcentagem_participacao" -> 0.0,
      "porcentagem_participacao_acumulada" -> 0.0,
      "quantidade_teorica" -> 0L))
    val dated = Cleansing.fillSentinelDate(filled, "data_pregao") // N2 `etl.py:59-62`
    val renamed = Cleansing.renameColumns(dated, Map( // P3 `etl.py:65-66`
      "codigo" -> "codigo_acao", "acao" -> "nome_acao"))
      // C2 `etl.py:68`; try_cast — an unparseable date string must degrade
      // to NULL (Spark 3.5 lax-cast parity), not abort under ANSI
      .withColumn("data_pregao_ts", col("data_pregao").try_cast(TimestampType))

    // W1 `etl.py:70-76`: 7-row moving average of quantidade_teorica per
    // ticker. Tie-break beyond the timestamp for deterministic frames.
    val w1 = Windows.rolling(
      Seq(col("codigo_acao")),
      Seq(col("data_pregao_ts"), col("nome_acao"), col("tipo")), 7)
    // W2 `etl.py:78-83`: sector total per trading day, kept on every row.
    val withStats = renamed
      .withColumn("media_movel_7d", Windows.rollingAvg(col("quantidade_teorica"), w1))
      .withColumn("quantidade_total_setor",
        Windows.groupTotal(col("quantidade_teorica"), Seq(col("data_pregao"), col("setor"))))

    withStats // C6 + P5 `etl.py:85-86`
      .withColumn("data_pregao", Cleansing.formatPartitionDate(col("data_pregao_ts")))
      .drop("data_pregao_ts")
  }

  /** V1 chain (`etl/transform_1.py:50-110`):
    * dynamic all-null column drop → renames → sanitizer casts → to_date →
    * null-key filter → keyed dedup keep-first → initial_date per ticker →
    * rolling mean/median/stddev/max/min over `windowDays` rows → drop
    * transients.
    *
    * The reference tie-breaks dedup with `monotonically_increasing_id`
    * (`transform_1.py:83`) — partition-layout-dependent; we require an
    * explicit deterministic ordering instead (SURVEY.md §7.3).
    */
  def transformV1(df: DataFrame, windowDays: Int = 7): DataFrame = {
    // P2/A1 `transform_1.py:50-55`: eager, data-dependent column prune.
    val essential = Set("cod", "asset", "type", "part", "theoricalQty", "date")
    val pruned = Cleansing.pruneAllNullColumns(df, essential)

    val renamed = Cleansing.renameColumns(pruned, Map( // P3 `transform_1.py:58-63`
      "cod" -> "code", "asset" -> "ticker", "date" -> "reference_date"))

    // Reference contract (`transform_1.py:75-76`): a feed without a date
    // column is a malformed input and must fail with a CLEAR message here,
    // not an opaque unresolved-column AnalysisException three operators
    // later.
    require(renamed.columns.contains("reference_date"),
      "input has no 'reference_date' (or raw 'date') column — cannot derive " +
        "partition dates (reference contract: etl/transform_1.py:75-76). " +
        s"Columns present: ${renamed.columns.mkString(", ")}")
    require(renamed.columns.contains("code"),
      "input has no 'code' (or raw 'cod') column — the per-ticker key is " +
        s"mandatory. Columns present: ${renamed.columns.mkString(", ")}")

    // one projection: `part` and `theoricalQty` replaced in place,
    // `reference_date_date` appended last
    val sane = renamed.withColumns(ListMap(
      "part" -> Cleansing.commaDecimalToDouble(col("part")), // C3 :67
      "theoricalQty" -> Cleansing.formattedToLong(col("theoricalQty")), // C4 :71
      "reference_date_date" -> Cleansing.toDatePattern(col("reference_date")))) // C5 :74

    val guarded = Cleansing.filterNotNull(sane, Seq("code", "reference_date_date")) // F1 :79

    // D2/W3 `transform_1.py:82-84`: keep one row per (code, day). Rows are
    // pre-partitioned by `code` alone: hash(code) satisfies the clustering
    // requirement of the (code, day) dedup window AND the per-code W4-W9
    // windows below, collapsing the chain to a single exchange.
    val deduped = Dedup.keepFirst(guarded.repartition(col("code")),
      Seq("code", "reference_date_date"),
      Seq(col("ticker"), col("type"), col("part"), col("theoricalQty")))

    // W4 `transform_1.py:87-90` + W5-W9 `transform_1.py:93-99`: both
    // partition by `code`, so Catalyst shares one exchange across the two
    // Window operators.
    val withInitial = deduped.withColumn("initial_date",
      Cleansing.formatPartitionDate(
        Windows.perKeyMin(col("reference_date_date"), Seq(col("code")))))

    val stats = Windows.withRollingStats(withInitial, "part",
      Seq("code"), Seq(col("reference_date_date")), windowDays,
      prefix = s"part_${windowDays}_days")

    stats
      .withColumn("reference_date",
        Cleansing.formatPartitionDate(col("reference_date_date"))) // C6 :89,109
      .drop("reference_date_date", s"nrows_part_${windowDays}_days") // P5 :84,110
  }

  /** K1/K2 sink (`etl.py:94-107`, `transform_1.py:108-115`): partitioned
    * snappy parquet with dynamic partition overwrite — the reference's
    * "upsert" semantics. K3 is a per-write option, so the caller's session
    * keeps its own `partitionOverwriteMode` for every other write.
    *
    * The write starts from [[graft.io.NioLocalFileSystem.write]], the
    * engine's one local write path, so it forks no `/bin/chmod` per part
    * file, `.crc` checksum and partition directory, and leaves the tree
    * the stock filesystem writes. [[writePartitionedToTable]] cannot do
    * the same: `saveAsTable` would store the writer options in the
    * table's metadata.
    */
  def writePartitioned(spark: SparkSession, df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    NioLocalFileSystem.write(df)
      .partitionBy(partitionCols: _*)
      .mode(mode)
      .option("partitionOverwriteMode", "dynamic") // K3 :40
      .option("compression", "snappy") // `etl.py:106`
      .parquet(path)

  /** Atomic write+register sink — the reference's `UPDATE_IN_DATABASE`
    * semantics (`etl/etl.py:94-107`: the Glue sink registers partitions AS
    * PART OF the write). [[writePartitioned]] + `Catalog.syncPartitions`
    * leaves a window where data exists on storage unregistered; this sink
    * closes it: the first call creates the external table at `location`,
    * subsequent calls dynamically overwrite only the partitions present in
    * `df`, and in both cases Spark's catalog partition management records
    * new partitions as the commit happens — queries through the table name
    * never see unregistered data.
    *
    * `insertInto` reads the overwrite mode from the session only, so it is
    * set for the call and the caller's value restored afterwards. This
    * sink stays on the stock filesystem: `saveAsTable` persists writer
    * options into the table's storage properties, which every later read
    * of the table would inherit.
    */
  def writePartitionedToTable(spark: SparkSession, df: DataFrame,
                              db: String, table: String, location: String,
                              partitionCols: Seq[String]): Unit = {
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    // getAll holds only explicitly set keys: an unset key is restored unset
    val previous = spark.conf.getAll.get(overwriteKey)
    spark.conf.set(overwriteKey, "dynamic")
    try {
      Catalog.ensureDatabase(spark, db)
      val fq = s"$db.$table"
      if (!spark.catalog.tableExists(fq)) {
        // stock filesystem: the table would persist the writer options
        df.write
          .partitionBy(partitionCols: _*)
          .option("path", location)
          .option("compression", "snappy")
          .saveAsTable(fq)
      } else {
        // insertInto is position-based — realign to the table's declared
        // column order (data columns first, partition columns last)
        val order = spark.table(fq).columns
        // stock filesystem, as the table's first write above
        df.select(order.map(col): _*)
          .write.mode(SaveMode.Overwrite)
          .insertInto(fq)
      }
    } finally previous match {
      case Some(v) => spark.conf.set(overwriteKey, v)
      case None => spark.conf.unset(overwriteKey)
    }
  }
}
