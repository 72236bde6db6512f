package graft.streaming

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.streaming.DataStreamWriter

/** The writer set-up every checkpointed streaming query of the program
  * goes through before its `start()` (JobStream, AlertSink, LandingSink):
  * sets `checkpointLocation` and, for a checkpoint on the local file
  * system, picks the checkpoint log's file manager. The caller keeps the
  * `start()` call: every job of a streaming query carries the call site of
  * its start, and job attribution by call site should name the caller's
  * module.
  *
  * Spark's default manager writes each metadata file (`offsets/`,
  * `commits/`, `sources/0/`, RocksDB changelog uploads) through Hadoop's
  * FileContext. Without the native Hadoop library, `RawLocalFileSystem`
  * answers FileContext's link-status and permission calls by forking
  * `readlink` and `chmod`: 8 `readlink` and 2 `chmod` per metadata file,
  * about 30 processes per file-source micro-batch (24 `readlink`, 6
  * `chmod`). Spark's `FileSystemBasedCheckpointFileManager` forks only
  * the `chmod`s; the one chosen here, [[LocalCheckpointFileManager]], is
  * that manager with FileContext's overwrite restored. Measured on a
  * 4-vCPU VM without the native library, one `createAtomic` took
  * 35–45 ms through FileContext and 8.5–9.4 ms through the FileSystem
  * manager. All of them write a temp file and rename it
  * into place. A log entry must not replace an existing one, and for it
  * all of them check that the destination is absent first: on `file:` the
  * FileContext rename is that same check-then-rename
  * (`AbstractFileSystem.renameInternal` looks the destination up first),
  * so the local logs keep the guarantee they had.
  *
  * The choice is a session setting, and it stays set after the start: the
  * file source's log is created later, on the stream thread, from a clone
  * of the session. A later query of the same session on HDFS then also
  * takes the chosen manager, which there is Spark's FileSystem manager:
  * `FileSystem.rename` onto an existing path fails, so its logs stay
  * correct. A value the user has set, in the session or the Hadoop
  * configuration, is never replaced. */
object CheckpointLog {

  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  def configure[T](spark: SparkSession, writer: DataStreamWriter[T],
      checkpoint: Option[String]): DataStreamWriter[T] = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    // no location: Spark checkpoints under the session's root, or else in
    // a local temp dir
    val local = checkpoint
      .orElse(spark.conf.getOption("spark.sql.streaming.checkpointLocation"))
      .forall(c => new Path(c).getFileSystem(hadoopConf) match {
        case _: LocalFileSystem | _: RawLocalFileSystem => true
        case _ => false
      })
    if (local && spark.conf.getOption(ManagerKey).isEmpty && hadoopConf.get(ManagerKey) == null)
      spark.conf.set(ManagerKey, classOf[LocalCheckpointFileManager].getName)
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
  }
}

/** Spark's rename-based FileSystem checkpoint manager, with the FileContext
  * manager's behaviour for a write that may replace its destination.
  *
  * Without `overwriteIfPossible` a write stays Spark's check-then-rename,
  * which refuses an existing destination. With it, Hadoop's local rename
  * returns false onto an existing file, so Spark's FileSystem manager
  * keeps the old file and leaves the temp file and its `.crc` behind,
  * where the FileContext manager (Spark's default) replaces the file.
  * RocksDB's changelog and snapshot uploads write this way, again for a
  * batch that runs again. Here, on the local file system, the temp file
  * replaces the destination in one `rename(2)`, and its `.crc` follows; the
  * destination's old `.crc` is deleted first, so the destination reads back
  * at every step. Every other write, and every write to another file
  * system, is Spark's own. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private def localFile(p: Path): Option[java.nio.file.Path] = fs match {
    case l: LocalFileSystem => Some(l.pathToFile(p).toPath)
    case r: RawLocalFileSystem => Some(r.pathToFile(p).toPath)
    case _ => None
  }

  private def crcOf(f: java.nio.file.Path): java.nio.file.Path =
    f.resolveSibling(s".${f.getFileName}.crc")

  override def renameTempFile(srcPath: Path, dstPath: Path, overwriteIfPossible: Boolean): Unit =
    (localFile(srcPath), localFile(dstPath)) match {
      case (Some(src), Some(dst)) if overwriteIfPossible =>
        Files.deleteIfExists(crcOf(dst))
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(crcOf(src)))
          Files.move(crcOf(src), crcOf(dst), StandardCopyOption.ATOMIC_MOVE)
      case _ => super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    }
}
