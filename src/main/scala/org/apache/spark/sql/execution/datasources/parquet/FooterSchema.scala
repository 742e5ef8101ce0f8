package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own per-file parquet schema inference, run on the calling
  * thread instead of as a Spark job. The footer reader and the
  * footer-to-schema converter are `private[parquet]`, so these few calls
  * live in Spark's package; [[graft.ops.Tables.parquet]] is their one
  * caller.
  */
object FooterSchema {

  /** The Hadoop configuration a read with `options` lists and opens files
    * under, as Spark's file index and schema inference build it.
    */
  def hadoopConf(spark: SparkSession, options: Map[String, String]): Configuration =
    spark.sessionState.newHadoopConfWithOptions(options)

  /** The data schema Spark's inference takes from `file`'s footer; `None`
    * when a corrupt file is skipped under `ignoreCorruptFiles`.
    */
  def read(spark: SparkSession, conf: Configuration, file: FileStatus,
           options: Map[String, String]): Option[StructType] = {
    val ignoreCorrupt = new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file), ignoreCorrupt), spark)
  }

  /** Spark's file-listing filter: true for names a scan never reads. */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
