package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Tables

/** The reference's three entry points (SURVEY.md §3), converged on the
  * shared operator chain exactly as the reference's three transform
  * scripts share one:
  *
  *  - EP1 [[runIncremental]]: one triggering file → transform → upsert its
  *    partitions (`lambda/handler_last_date.py:24-42` → `etl/etl.py`).
  *  - EP2 [[run]]: extract → transform → load in sequence, the Step
  *    Function collapsed to plain calls (`infra/glue.tf:99-156`).
  *  - EP3 [[runFullScan]]: full recursive recompute (`etl/transform.py`).
  *
  * The reference's O4 `Job.init`/`job.commit` bookmark protocol becomes
  * idempotent-write discipline: dynamic partition overwrite makes any
  * re-run of the same input a no-op-equivalent rewrite of the same
  * partitions.
  */
class Pipeline(spark: SparkSession, rawDb: String = "b3_raw",
               refinedDb: String = "b3_refined") {

  private val v2PartitionKeys = Seq("data_pregao", "codigo_acao") // `etl.py:98`
  private val v1PartitionKeys = Seq("code", "reference_date") // `transform_1.py:112`

  /** Extract stage (`etl/extract.py`): pure metadata — ensure db/table and
    * register any unregistered raw partitions found on storage.
    */
  def extract(rawLocation: String): Int = {
    Catalog.ensureDatabase(spark, rawDb)
    Catalog.ensureExternalTable(spark, rawDb, "pregao_raw",
      columns = Seq("segment" -> "INT", "cod" -> "STRING", "asset" -> "STRING",
        "type" -> "STRING", "part" -> "STRING", "partAcum" -> "INT",
        "theoricalQty" -> "STRING"),
      partitions = Seq("date" -> "STRING"),
      location = rawLocation)
    val wanted = Catalog.discoverPartitions(spark, rawLocation, Seq("date"))
    Catalog.syncPartitions(spark, rawDb, "pregao_raw", Seq("date"), wanted, rawLocation)
  }

  /** Transform stage over an already-loaded raw DataFrame → refined rows. */
  def transform(raw: DataFrame, windowDays: Int = 7): DataFrame =
    Transform.transformV1(raw, windowDays)

  /** Load stage (`etl/load.py`): mirror of extract over the refined
    * two-level layout.
    */
  def load(refinedLocation: String): Int = {
    Catalog.ensureDatabase(spark, refinedDb)
    Catalog.ensureExternalTable(spark, refinedDb, "pregao_refined",
      columns = Seq("ticker" -> "STRING", "type" -> "STRING", "part" -> "DOUBLE",
        "theoricalQty" -> "BIGINT", "initial_date" -> "STRING",
        "mean_part_7_days" -> "DOUBLE", "median_part_7_days" -> "DOUBLE",
        "std_part_7_days" -> "DOUBLE", "max_part_7_days" -> "DOUBLE",
        "min_part_7_days" -> "DOUBLE"),
      partitions = Seq("code" -> "STRING", "reference_date" -> "STRING"),
      location = refinedLocation)
    val wanted = Catalog.discoverPartitions(spark, refinedLocation, v1PartitionKeys)
    Catalog.syncPartitions(spark, refinedDb, "pregao_refined", v1PartitionKeys,
      wanted, refinedLocation)
  }

  /** EP2: the whole extract → transform → load pipeline over a raw
    * directory.
    */
  def run(rawLocation: String, refinedLocation: String, windowDays: Int = 7): Unit = {
    extract(rawLocation)
    val raw = Tables.parquet(spark, rawLocation,
      Map("basePath" -> rawLocation, "recursiveFileLookup" -> "false"))
    val refined = transform(raw, windowDays)
    Transform.writePartitioned(spark, refined, refinedLocation, v1PartitionKeys)
    load(refinedLocation)
  }

  /** EP2 with the reference's single-call sink (`etl.py:94-107`
    * `UPDATE_IN_DATABASE`): the refined write itself creates/updates the
    * table and registers its partitions — no separate [[load]] sync, no
    * window where written data is invisible to table-name queries.
    */
  def runRegistered(rawLocation: String, refinedLocation: String,
                    windowDays: Int = 7): Unit = {
    extract(rawLocation)
    val raw = Tables.parquet(spark, rawLocation,
      Map("basePath" -> rawLocation, "recursiveFileLookup" -> "false"))
    val refined = transform(raw, windowDays)
    Transform.writePartitionedToTable(spark, refined, refinedDb,
      "pregao_refined", refinedLocation, v1PartitionKeys)
  }

  /** EP1: incremental — transform only the triggering file's rows and
    * dynamically overwrite just the partitions they land in (v2 chain,
    * `etl/etl.py`).
    */
  def runIncremental(inputPath: String, refinedLocation: String): Unit = {
    val raw = Tables.parquet(spark, inputPath)
    val refined = Transform.transformV2(raw)
    Transform.writePartitioned(spark, refined, refinedLocation, v2PartitionKeys)
  }

  /** EP3: full recursive recompute (v2 chain, `etl/transform.py`). */
  def runFullScan(rawDir: String, refinedLocation: String): Unit = {
    val raw = Tables.readRecursive(spark, rawDir)
    val refined = Transform.transformV2(raw)
    Transform.writePartitioned(spark, refined, refinedLocation, v2PartitionKeys)
  }
}

/** spark-submit entry point — the reference's generic job launcher with
  * passthrough arguments (`lambda/handler.py:25-45`), so the pipeline is
  * runnable without writing code:
  *
  * {{{
  * spark-submit --class graft.pipeline.Pipeline app.jar \
  *   mode=full raw=/lake/raw refined=/lake/refined windowDays=7
  * spark-submit ... mode=incremental input=/lake/raw/date=2026-08-12/x.parquet refined=/lake/refined
  * spark-submit ... mode=fullscan raw=/lake/raw refined=/lake/refined
  * }}}
  *
  * Arguments are `key=value` pairs in any order (the reference forwards a
  * dict the same way). Unknown keys are rejected loudly — a typo'd arg
  * silently ignored is how a full-lake recompute ends up in the wrong
  * directory.
  */
object Pipeline {
  private val known = Set("mode", "raw", "refined", "input", "windowDays", "rawDb", "refinedDb")

  def main(args: Array[String]): Unit = {
    val kv = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown arguments: ${unknown.mkString(", ")} — known: ${known.mkString(", ")}")
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing required argument $k=..."))

    val spark = org.apache.spark.sql.SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.session.timeZone", "UTC") // K4 `transform_1.py:41`
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    val p = new Pipeline(spark,
      rawDb = kv.getOrElse("rawDb", "b3_raw"),
      refinedDb = kv.getOrElse("refinedDb", "b3_refined"))
    kv.getOrElse("mode", "full") match {
      case "full" =>
        p.run(need("raw"), need("refined"), kv.get("windowDays").map(_.toInt).getOrElse(7))
      case "incremental" => p.runIncremental(need("input"), need("refined"))
      case "fullscan" => p.runFullScan(need("raw"), need("refined"))
      case other =>
        throw new IllegalArgumentException(
          s"mode=$other unsupported — use full | incremental | fullscan")
    }
  }
}
