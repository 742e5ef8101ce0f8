package graft.tools

import graft.io.NioLocalFileSystem
import graft.ops.Tables

/** Rewrites a single-file-per-table testdata directory as a multi-file
  * layout (`nFiles` parquet parts per table), mimicking a real lake where
  * every table is many file splits (the reference writes one parquet per
  * `date=` partition — `/root/reference/etl/extract.py:60` — so production
  * scans are always multi-file).
  *
  * Why it exists: a single single-row-group parquet file is unsplittable,
  * so the scan stage of any query over it runs on ONE task regardless of
  * cluster size — benchmarks against it under-report scan-heavy queries
  * and tempt layout-compensating `repartition()` scaffolding into query
  * code (the exact anti-pattern this fixture retires; a 100-TB user must
  * never inherit a shuffle that only exists because the test input was one
  * file). Bench against the fixture output instead:
  *
  *   sbt "runMain graft.tools.MultiFileFixture /root/testdata/sf0.1 /tmp/sf0.1_multi 8"
  *   SPARK_GRAFT_SF_DIR=/tmp/sf0.1_multi sbt "runMain graft.Bench"
  *
  * Each `<table>.parquet` becomes a DIRECTORY of `nFiles` parts — Spark
  * reads both layouts through the same `Tables.read` path. Events keep
  * their long-nanos `ts` (written back as bigint; `Tables.readEvents`
  * converts either representation).
  */
object MultiFileFixture {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MultiFileFixture <srcSfDir> <outDir> [nFiles]")
    val (src, out) = (args(0), args(1))
    val nFiles = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt,
      nFiles)
    tables.foreach { name =>
      // round-robin: even file sizes, no key bias
      NioLocalFileSystem.write(Tables.parquet(spark, s"$src/$name.parquet").repartition(nFiles))
        .mode("overwrite").parquet(s"$out/$name.parquet")
    }
    spark.stop()
  }
}
