package graft.ops

import scala.util.control.{NoStackTrace, NonFatal}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.StructType

import graft.io.NioLocalFileSystem

/** Table access for the driver testdata layout (`TESTDATA.md`): one parquet
  * file per table under a scale-factor directory.
  *
  * Mirrors the reference's scan operators (SURVEY.md §2.1): S1 single-path
  * parquet scan (`etl/etl.py:25-33`), S2 recursive-prefix scan
  * (`etl/transform.py:20-28`), S3 catalog scan (`etl/transform_1.py:43-47`).
  * All of them land on a plain Spark parquet relation so Catalyst gets
  * predicate pushdown, column pruning and (for partitioned layouts)
  * partition pruning for free — at 100 TB these three are what keep a scan
  * from reading the whole lake.
  *
  * [[parquet]] is the engine's one batch parquet read path: every program
  * read without an explicit schema starts there, and takes its schema from
  * one footer read on the driver instead of Spark's schema-inference job.
  * [[readMerged]] stays on Spark's inference, because `mergeSchema` needs
  * every footer. `WriterPathSpec` fails on a read that bypasses both.
  */
object Tables {

  /** `spark.read.options(options).parquet(path)` without the Spark job
    * that infers its schema. The schema comes from the footer of the
    * first visible data file under `path` in name order, converted by
    * Spark's own per-file inference code ([[FooterSchema]]); Spark still
    * lists the files and infers the partition columns from the directory
    * names. When Spark would decide the schema some other way, this is
    * plain `spark.read.parquet`, so Spark's own result or error comes
    * back: no visible data file, a glob path, a `_metadata` or
    * `_common_metadata` summary file, a streaming sink's
    * `_spark_metadata` log, a data column named like a `k=` partition
    * key, a first file Spark would not read (under a plain subdirectory
    * of an unpartitioned path, or outside `basePath`), or a footer that
    * cannot be read. When the files' schemas
    * disagree, Spark's choice of file is arbitrary too; every table the
    * program writes has one schema.
    */
  def parquet(spark: SparkSession, path: String,
              options: Map[String, String] = Map.empty): DataFrame =
    parquetPaths(spark, Seq(path), options)

  /** [[parquet]] over several paths, as `spark.read.parquet(paths: _*)`. */
  def parquetPaths(spark: SparkSession, paths: Seq[String],
                   options: Map[String, String] = Map.empty): DataFrame = {
    footerSchema(spark, paths, options) match {
      case Some(schema) => spark.read.options(options).schema(schema).parquet(paths: _*)
      case None => spark.read.options(options).parquet(paths: _*)
    }
  }

  /** The schema `spark.read.parquet(path)` infers, from [[parquet]]. */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    parquet(spark, path).schema

  private val GlobChars = "{}[]*?\\".toSet

  /** Thrown where Spark would decide the schema some other way. */
  private object SparkDecides extends Exception with NoStackTrace

  private def footerSchema(spark: SparkSession, paths: Seq[String],
                           options: Map[String, String]): Option[StructType] = {
    def option(key: String) = options.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
    val recursive = option("recursiveFileLookup").exists(_.trim.equalsIgnoreCase("true"))
    try {
      if (paths.isEmpty || paths.exists(_.exists(GlobChars))) throw SparkDecides
      val conf = FooterSchema.hadoopConf(spark, options)
      // (file, directory names between the partition base and the file)
      val files = paths.flatMap { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(conf)
        val status = fs.getFileStatus(root)
        val dirs = option("basePath").fold(Seq.empty[String])(b =>
          dirsBetween(fs, new Path(b), if (status.isDirectory) root else root.getParent))
        if (status.isDirectory) dataFiles(fs, root, dirs)
        else if (unlisted(root.getName)) throw SparkDecides
        else if (FooterSchema.hidden(root.getName)) Seq.empty
        else Seq(status -> dirs)
      }
      val (first, dirs) = files.headOption.getOrElse(throw SparkDecides)
      // without partition columns Spark reads only the files directly under each path
      if (!recursive && !dirs.forall(isPartitionDir)) throw SparkDecides
      val keys = if (recursive) Set.empty[String]
        else dirs.map(d => unescapePathName(d.take(d.indexOf('='))).toLowerCase).toSet
      FooterSchema.read(spark, conf, first, options)
        .filterNot(_.fieldNames.exists(n => keys(n.toLowerCase)))
    } catch { case NonFatal(_) => None }
  }

  /** Visible data files under `dir` in sorted name order, each with the
    * directory names between the partition base and the file.
    */
  private def dataFiles(fs: FileSystem, dir: Path,
                        dirs: Seq[String]): Seq[(FileStatus, Seq[String])] = {
    val entries = fs.listStatus(dir).toSeq.sortBy(_.getPath.getName)
    if (entries.exists(e => unlisted(e.getPath.getName))) throw SparkDecides
    entries.filterNot(e => FooterSchema.hidden(e.getPath.getName)).flatMap { e =>
      if (e.isDirectory) dataFiles(fs, e.getPath, dirs :+ e.getPath.getName)
      else Seq(e -> dirs)
    }
  }

  /** Names that make Spark take the schema, or the file list, from
    * somewhere other than the data files.
    */
  private def unlisted(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata") ||
      name == "_spark_metadata"

  private def isPartitionDir(name: String): Boolean = name.indexOf('=') > 0

  /** Directory names from `base` down to `dir`. */
  private def dirsBetween(fs: FileSystem, base: Path, dir: Path): Seq[String] = {
    val b = fs.makeQualified(base).toUri.getPath.stripSuffix("/")
    val d = fs.makeQualified(dir).toUri.getPath.stripSuffix("/")
    if (d == b) Seq.empty
    else if (d.startsWith(b + "/")) d.substring(b.length + 1).split('/').toSeq
    else throw SparkDecides // Spark rejects the basePath itself
  }

  /** S1: read one parquet file/prefix. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** S2: full recursive scan of a raw prefix (`transform.py:20-28`). */
  def readRecursive(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, dir, Map("recursiveFileLookup" -> "true"))

  /** S3: catalog table scan (`transform_1.py:43-47`). Partition-aware:
    * filters on partition columns prune directories before any I/O.
    */
  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.read.table(table)

  /** S4/DynamicFrame parity (SURVEY.md §1.4): schema-on-read across schema
    * GENERATIONS. The reference's raw zone really holds two generations
    * (v1 English / v2 Portuguese columns); `mergeSchema` unions the parquet
    * footers of every file so old files surface the new columns as NULL
    * and vice versa — per-record self-description without a catalog.
    *
    * Scale note: merging reads one FOOTER per file (distributed since
    * Spark 2), not the data; still, on a lake with millions of files
    * prefer declaring the union schema explicitly via `.schema(...)` —
    * this reader is for the exploration/ingest edge where the union isn't
    * known yet.
    */
  def readMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read
      .option("mergeSchema", "true")
      .option("recursiveFileLookup", "true")
      .parquet(dir)

  /** CSV source with header + explicit schema (schema inference is a full
    * extra scan — never acceptable at lake scale, so it is not offered).
    * Reads the RFC-4180 dialect [[writeCsv]] emits (quote = escape = `"`,
    * embedded quotes doubled) — which also parses plain unquoted CSV —
    * with `multiLine` on so quoted embedded newlines reassemble. NOTE the
    * scale contract: multiLine makes each file unsplittable (one task per
    * file), so large CSV inputs must arrive as many files; for 100 TB
    * corpus text use JSONL/parquet instead.
    */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("quote", "\"").option("escape", "\"")
      .option("multiLine", "true")
      .csv(path)

  /** events.parquet stores `ts` as parquet TIMESTAMP(NANOS), which Spark 4
    * rejects natively; sessions set `spark.sql.legacy.parquet.nanosAsLong`
    * and this reader converts to a microsecond TimestampType by flooring —
    * exactly what DuckDB's ns→µs coercion does, keeping the oracle aligned.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = read(spark, dir, "events")
    // `div` = integer division: epoch-nanos ≈ 1.7e18 exceeds double's
    // 53-bit mantissa, so a float `/ 1000` would be off by ±1 µs.
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Streaming twin of [[readEvents]]: the same events table as a file-
    * source STREAM (a streaming source cannot infer — the schema comes
    * from [[parquetSchema]], one footer read on the driver), with the identical nanos→micros `ts`
    * coercion so streaming operators see the same event time as batch
    * ones. At lake scale the file source is the right on-ramp: each
    * micro-batch lists only NEW files, and `Trigger.AvailableNow`
    * drains a finite backlog then stops — used by the driver queries
    * that exercise the streaming code path against the batch oracle.
    */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val schema = parquetSchema(spark, s"$dir/events.parquet")
    // the file stream source wants a directory basePath; the testdata
    // layout is one FILE per table, so glob the one file under the
    // scale-factor dir instead of handing it the file as a path
    val raw = spark.readStream.schema(schema)
      .option("basePath", dir).parquet(s"$dir/events.parquet*")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** Generic streaming twin of [[read]]: any testdata table as a
    * file-source stream (schema from [[parquetSchema]], basePath
    * glob per the layout note in [[readEventsStream]]). Used by the
    * ingest-shaped streaming queries (near-dup at ingest) that stream
    * tables without event-time columns.
    */
  def readTableStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = parquetSchema(spark, s"$dir/$name.parquet")
    spark.readStream.schema(schema)
      .option("basePath", dir).parquet(s"$dir/$name.parquet*")
  }

  /** JSON-Lines export — the LLM-corpus interchange format (one JSON
    * object per line; what tokenizer trainers, inspection tooling and
    * most public corpus releases consume). `compression` takes any
    * Spark-supported codec name ("gzip", "zstd", "none"); partitioned
    * text output, one file per partition, so a 100 TB export is as
    * parallel as its partitioning.
    */
  def writeJsonl(df: org.apache.spark.sql.DataFrame, path: String,
                 compression: String = "none"): Unit =
    NioLocalFileSystem.write(df).mode("overwrite").option("compression", compression).json(path)

  /** JSON-Lines import with an EXPLICIT schema — inference over JSONL
    * is a full extra pass and type-guesses (longs vs doubles, empty vs
    * null); corpus pipelines know their schema and should say so. Pass
    * the writer's `df.schema` for an exact round-trip.
    */
  def readJsonl(spark: SparkSession,
                path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV export with RFC-4180 quoting (quote = escape = `"` — embedded
    * quotes double, fields with separators/newlines/quotes are wrapped)
    * so corpus text survives the trip byte-for-byte. CSV is the
    * interchange floor for tabular sidecars (metadata tables, label
    * files, spreadsheet-born blocklists) — corpus TEXT itself should
    * ride JSONL/parquet, but the reader below still round-trips it.
    */
  def writeCsv(df: org.apache.spark.sql.DataFrame, path: String,
               header: Boolean = true, compression: String = "none"): Unit =
    NioLocalFileSystem.write(df).mode("overwrite")
      .option("header", header.toString)
      .option("quote", "\"").option("escape", "\"")
      .option("compression", compression)
      .csv(path)

  /** ORC export/import — the other columnar interchange format Spark
    * carries natively (Hive-ecosystem handoffs). Full predicate
    * pushdown + column pruning on read, same as parquet; schema rides
    * in the file, so the reader needs none.
    */
  def writeOrc(df: org.apache.spark.sql.DataFrame, path: String,
               compression: String = "zlib"): Unit =
    NioLocalFileSystem.write(df).mode("overwrite").option("compression", compression).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
