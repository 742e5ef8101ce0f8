package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}

/** Catalog/partition synchronization, re-homed from the reference's boto3
  * Glue calls (SURVEY.md §2.10) onto Spark's own catalog.
  *
  * The reference's extract/load stages are pure metadata jobs: ensure
  * db/table exist, discover partition directories on storage, diff against
  * the registered set, register the difference in batches with backoff
  * (`etl/extract.py:67-201`, `etl/load.py:77-201`). Against Spark's catalog
  * the batching/backoff is unnecessary (it's a local metastore call), but
  * the discover→diff→register shape is kept: at 100 TB you never
  * `MSCK REPAIR` blindly (full-listing every run); you list only new
  * directories and add just those partitions.
  */
object Catalog {

  /** M1: `CREATE DATABASE IF NOT EXISTS` (`extract.py:67-74`). */
  def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** M2: ensure an external partitioned parquet table over `location`
    * (`extract.py:77-102`, `load.py:77-101`). `columns`/`partitions` are
    * `name -> sqlType` pairs in declaration order.
    */
  def ensureExternalTable(spark: SparkSession, db: String, table: String,
                          columns: Seq[(String, String)],
                          partitions: Seq[(String, String)],
                          location: String): Unit = {
    val cols = columns.map { case (n, t) => s"`$n` $t" }.mkString(", ")
    val parts = partitions.map { case (n, t) => s"`$n` $t" }.mkString(", ")
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS `$db`.`$table` ($cols)
         |USING PARQUET
         |PARTITIONED BY ($parts)
         |LOCATION '$location'""".stripMargin)
  }

  /** M3: registered partitions as value-lists, e.g. Seq("2024-01-02") or
    * Seq("PETR4", "2024-01-02") (`extract.py:105-113`). `SHOW PARTITIONS`
    * path-escapes each `k=v`, so values come back unescaped.
    */
  def listPartitions(spark: SparkSession, db: String, table: String): Set[Seq[String]] =
    spark.sql(s"SHOW PARTITIONS `$db`.`$table`")
      .collect()
      .map(_.getString(0).split("/").map(kv => unescapePathName(kv.split("=", 2)(1))).toSeq)
      .toSet

  /** M4: discover partitions from storage by listing `k=v` directories
    * under `location`, one level per partition key (`extract.py:116-125`,
    * `load.py:120-129` — their S3-list + regex, on the Hadoop FS API).
    * Values are unescaped: a partitioned write path-escapes `=`, `/`,
    * `%`, `:` and the like in directory names.
    */
  def discoverPartitions(spark: SparkSession, location: String,
                         keys: Seq[String]): Set[Seq[String]] = {
    val fs = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path, remaining: Seq[String], acc: Seq[String]): Seq[Seq[String]] =
      remaining match {
        case Nil => Seq(acc)
        case key +: rest =>
          val prefix = s"${escapePathName(key)}="
          if (!fs.exists(dir)) Seq.empty
          else fs.listStatus(dir).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
            .flatMap(st => walk(st.getPath, rest,
              acc :+ unescapePathName(st.getPath.getName.stripPrefix(prefix))))
      }
    walk(new Path(location), keys, Seq.empty).toSet
  }

  /** M5: parse the partition of a single triggering file out of its path
    * (`extract.py:128-132`, `load.py:114-118`), values unescaped as in
    * [[discoverPartitions]].
    */
  def partitionFromPath(path: String, keys: Seq[String]): Option[Seq[String]] = {
    val found = keys.map { k =>
      s"(?:^|/)${java.util.regex.Pattern.quote(k)}=([^/]+)".r
        .findFirstMatchIn(path).map(m => unescapePathName(m.group(1)))
    }
    if (found.forall(_.isDefined)) Some(found.map(_.get)) else None
  }

  /** One multi-partition `ADD IF NOT EXISTS` statement for a batch —
    * a single catalog round-trip per `batchSize` partitions, the DDL
    * equivalent of the reference's `batch_create_partition` with 100
    * inputs per call (`extract.py:136-139`).
    */
  private[graft] def addPartitionsSql(db: String, table: String,
                                         keys: Seq[String],
                                         batch: Seq[Seq[String]],
                                         location: String): String = {
    val parts = batch.map { values =>
      val spec = keys.zip(values)
        .map { case (k, v) => s"`$k`='${v.replace("'", "''")}'" }.mkString(", ")
      // the directory is the one a partitioned write creates: escaped
      val dir = keys.zip(values)
        .map { case (k, v) => s"${escapePathName(k)}=${escapePathName(v)}" }.mkString("/")
      // LOCATION is a string literal too — quote-escape the whole path,
      // not just the PARTITION values
      val loc = s"$location/$dir".replace("'", "''")
      s"PARTITION ($spec) LOCATION '$loc'"
    }.mkString("\n")
    s"ALTER TABLE `$db`.`$table` ADD IF NOT EXISTS\n$parts"
  }

  /** M6: register `wanted − existing` (`extract.py:135-159,182-201`),
    * with the reference's remote-catalog discipline: batches of
    * `batchSize` partitions per DDL round-trip, each batch retried on
    * throttling with capped exponential backoff ([[Retry.withRetry]]).
    * The set-difference means only *new* partitions are touched; batches
    * are ordered, so a hard mid-run failure leaves a clean prefix
    * registered and the rerun diff picks up exactly the remainder.
    * `sleep` is injectable for tests; the local-metastore path never
    * throttles and so never sleeps.
    */
  def syncPartitions(spark: SparkSession, db: String, table: String,
                     keys: Seq[String], wanted: Set[Seq[String]],
                     location: String, batchSize: Int = 100,
                     maxAttempts: Int = 5,
                     sleep: Long => Unit = Thread.sleep): Int = {
    val existing = listPartitions(spark, db, table)
    val missing = (wanted -- existing).toSeq.sortBy(_.mkString("/"))
    missing.grouped(batchSize).foreach { batch =>
      Retry.withRetry(maxAttempts = maxAttempts, sleep = sleep) {
        spark.sql(addPartitionsSql(db, table, keys, batch, location))
      }
    }
    missing.size
  }
}
