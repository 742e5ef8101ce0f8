package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}

/** Hadoop's checksummed local filesystem (`.crc` siblings included) with
  * one change: `setPermission` is a `chmod(2)` through `java.nio` instead
  * of a forked `/bin/chmod`.
  *
  * Without the native `libhadoop`, stock `RawLocalFileSystem` runs
  * `chmod 0644 <file>` as a child process for every file, `.crc` checksum
  * and directory it creates. A partitioned write of one file per
  * `(code, reference_date)` partition therefore spends most of its time
  * in process creation, serially, inside the write task.
  *
  * The resulting mode is the one the stock code sets. Permissions the nine
  * `rwx` bits cannot express take Hadoop's own path: a requested sticky
  * bit, or a target that already carries setuid/setgid/sticky (`chmod`
  * keeps a directory's setgid bit, which a NIO `chmod` would clear). So
  * does a default filesystem without POSIX attributes.
  *
  * [[NioLocalFileSystem.write]] is the engine's one local write path:
  * the refined sink, every index and sketch segment, the ingest stores,
  * the compaction rewrites, the `Tables` exports and the registry's
  * scratch fixtures all start their writer there. Three kinds of writer
  * stay on the stock filesystem:
  *  - the `saveAsTable`/`insertInto` sinks
  *    ([[graft.pipeline.Transform.writePartitionedToTable]],
  *    [[graft.pipeline.Bucketing.writeBucketed]], the registry's catalog
  *    round trip), because the table would persist the writer options;
  *  - streaming checkpoints and `_spark_metadata` logs, which Spark
  *    writes through the FileContext `CheckpointFileManager`; a session
  *    setting selects it, and the program does not own the session. They
  *    still fork: 39 `chmod` and 96 `readlink` per perfbench
  *    registry_mix run;
  *  - `graft.tools` probes, which are slated for deletion.
  * `WriterPathSpec` fails when any other `DataFrameWriter` bypasses the
  * helper.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** `df.write` with its `file:` I/O routed through this class. The
    * options reach only that write's Hadoop conf, driver-side commit and
    * executor tasks alike, so reads keep the stock filesystem and other
    * schemes (s3a, hdfs) their own; the uncached instance keeps a stock
    * `LocalFileSystem` cached under the same key from being reused. The
    * written tree (files, `.crc` checksums, modes) is a stock write's.
    */
  def write(df: DataFrame): DataFrameWriter[Row] = df.write.options(writerOptions)

  private val writerOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val unixAttributes =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val RwxBits = 0x1ff // 0777
  private val SpecialBits = 0xe00 // 07000: setuid, setgid, sticky

  /** The raw layer: stock `RawLocalFileSystem` except `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      if (!unixAttributes || (mode & ~RwxBits) != 0 ||
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SpecialBits) != 0)
        super.setPermission(p, permission)
      // without a sticky bit, toString is the nine-letter `rwxr-x---` form
      else Files.setPosixFilePermissions(file,
        PosixFilePermissions.fromString(permission.toString))
    }
  }
}
