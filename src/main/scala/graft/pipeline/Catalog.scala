package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{QualifiedTableName, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTablePartition, CatalogUtils}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.command.{CommandUtils, DDLUtils}

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
  *
  * Partitions are listed and registered through the session catalog API,
  * not SQL text: a statement is parsed and analyzed, and `ADD PARTITION`
  * then resolves the whole table relation again in its `refreshTable`.
  */
object Catalog {

  /** M1: create the database unless the session catalog has it
    * (`extract.py:67-74`).
    */
  def ensureDatabase(spark: SparkSession, db: String): Unit =
    if (!spark.sessionState.catalog.databaseExists(db))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** M2: ensure an external partitioned parquet table over `location`
    * (`extract.py:77-102`, `load.py:77-101`). `columns`/`partitions` are
    * `name -> sqlType` pairs in declaration order. An existing table is
    * left as it is, as `IF NOT EXISTS` would; a new one is created with
    * SQL, because Spark's `CREATE TABLE` builds the datasource table's
    * metadata.
    */
  def ensureExternalTable(spark: SparkSession, db: String, table: String,
                          columns: Seq[(String, String)],
                          partitions: Seq[(String, String)],
                          location: String): Unit =
    if (!spark.sessionState.catalog.tableExists(TableIdentifier(table, Some(db)))) {
      val cols = columns.map { case (n, t) => s"`$n` $t" }.mkString(", ")
      val parts = partitions.map { case (n, t) => s"`$n` $t" }.mkString(", ")
      // the path may itself hold a `'`, which the literal doubles
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS `$db`.`$table` ($cols)
           |USING PARQUET
           |PARTITIONED BY ($parts)
           |LOCATION '${location.replace("'", "''")}'""".stripMargin)
    }

  /** M3: registered partitions as value-lists, e.g. Seq("2024-01-02") or
    * Seq("PETR4", "2024-01-02") (`extract.py:105-113`), read off the
    * session catalog's partition specs in the table's partition-column
    * order. The catalog stores values raw, so none is unescaped.
    */
  def listPartitions(spark: SparkSession, db: String, table: String): Set[Seq[String]] =
    registered(spark, spark.sessionState.catalog.getTableMetadata(TableIdentifier(table, Some(db))))

  private def registered(spark: SparkSession, table: CatalogTable): Set[Seq[String]] =
    spark.sessionState.catalog.listPartitions(table.identifier)
      .map(p => table.partitionColumnNames.map(p.spec))
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

  /** The partitions of `values` in batches of `batchSize`, each batch one
    * `createPartitions` call — the reference's `batch_create_partition`
    * with 100 inputs per call (`extract.py:136-139`). Each partition
    * inherits the table's storage format, as `ALTER TABLE … ADD
    * PARTITION` builds it; its location is the directory a partitioned
    * write creates, path-escaped, and its values stay raw.
    */
  private[graft] def partitionBatches(storage: CatalogStorageFormat, keys: Seq[String],
                                      values: Seq[Seq[String]], location: String,
                                      batchSize: Int): Seq[Seq[CatalogTablePartition]] =
    values.map { vs =>
      val dir = keys.zip(vs)
        .map { case (k, v) => s"${escapePathName(k)}=${escapePathName(v)}" }.mkString("/")
      CatalogTablePartition(keys.zip(vs).toMap,
        storage.copy(locationUri = Some(CatalogUtils.stringToURI(s"$location/$dir"))))
    }.grouped(batchSize).toSeq

  /** M6: register `wanted − existing` (`extract.py:135-159,182-201`),
    * with the reference's remote-catalog discipline: one session-catalog
    * `createPartitions` call per batch of `batchSize` partitions, each
    * batch retried on throttling with capped exponential backoff
    * ([[Retry.withRetry]]). The set-difference means only *new*
    * partitions are touched; batches are ordered, so a hard mid-run
    * failure leaves a clean prefix registered and the rerun diff picks up
    * exactly the remainder. `sleep` is injectable for tests; the
    * local-metastore path never throttles and so never sleeps.
    */
  def syncPartitions(spark: SparkSession, db: String, table: String,
                     keys: Seq[String], wanted: Set[Seq[String]],
                     location: String, batchSize: Int = 100,
                     maxAttempts: Int = 5,
                     sleep: Long => Unit = Thread.sleep): Int = {
    val catalog = spark.sessionState.catalog
    val meta = catalog.getTableMetadata(TableIdentifier(table, Some(db)))
    val missing = (wanted -- registered(spark, meta)).toSeq.sortBy(_.mkString("/"))
    var added = Seq.empty[CatalogTablePartition]
    try if (missing.nonEmpty) {
      DDLUtils.verifyPartitionProviderIsHive(spark, meta, "ALTER TABLE ADD PARTITION")
      partitionBatches(meta.storage, keys, missing, location, batchSize).foreach { batch =>
        Retry.withRetry(maxAttempts = maxAttempts, sleep = sleep) {
          catalog.createPartitions(meta.identifier, batch, ignoreIfExists = true)
        }
        added ++= batch
      }
    } finally {
      // every sync, not only one that adds: the load follows a write that
      // may have replaced the files of partitions already registered
      refresh(spark, meta)
      if (added.nonEmpty) updateStats(spark, meta, added)
    }
    missing.size
  }

  /** What `AlterTableAddPartitionCommand` does after its `createPartitions`,
    * without resolving the table relation again: drop the cached relation
    * (refreshing its file listings first), and recache cached data over
    * the table when there is any.
    */
  private def refresh(spark: SparkSession, table: CatalogTable): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = table.identifier
    if (spark.sharedState.cacheManager.isEmpty) {
      Option(catalog.getCachedTable(QualifiedTableName(ident.database.get, ident.table)))
        .foreach(_.refresh())
      catalog.refreshTable(ident)
    } else spark.catalog.refreshTable(ident.quotedString)
  }

  /** Then, as that command does, update or drop the table statistics. */
  private def updateStats(spark: SparkSession, table: CatalogTable,
                          added: Seq[CatalogTablePartition]): Unit = {
    val catalog = spark.sessionState.catalog
    val ident = table.identifier
    if (table.stats.nonEmpty && spark.sessionState.conf.autoSizeUpdateEnabled) {
      val addedSize = CommandUtils.calculateMultipleLocationSizes(castToImpl(spark), ident,
        added.map(_.storage.locationUri)).sum
      if (addedSize > 0) {
        catalog.alterTableStats(ident,
          Some(CatalogStatistics(sizeInBytes = table.stats.get.sizeInBytes + addedSize)))
        catalog.alterPartitions(ident, added)
      }
    } else CommandUtils.updateTableStats(castToImpl(spark), table)
  }
}
