package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory. Bench, Verify, the `graft.tools` mains
  * and the test suites build their sessions here, so every probe and test
  * runs under the config Bench measures. A caller that needs one setting
  * more sets it on the returned session. `Pipeline.main` builds its own:
  * spark-submit supplies its master and settings.
  */
object GraftSession {

  /** `local[cpus]` with `shuffle` shuffle partitions, UTC, no UI, the
    * parquet timestamp settings below and [[graft.functions.GraftExtensions]],
    * logging at WARN. Returns the live default session when there is one
    * (`getOrCreate`).
    */
  def local(cpus: Int, shuffle: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long nanos and let
      // graft.ops.Tables.readEvents convert (floor to micros, = DuckDB).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive timestamp[us] columns read as TIMESTAMP, not TIMESTAMP_NTZ,
      // which `unix_micros` rejects
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // ShareWindowExchange + vec_dot active in every measured path
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
