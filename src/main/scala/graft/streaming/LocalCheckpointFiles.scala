package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** graft's checkpoint file manager, set as
  * `spark.sql.streaming.checkpointFileManagerClass` in `core-site.xml`.
  *
  * Without the native Hadoop library, Spark's default
  * `FileContextBasedCheckpointFileManager` starts a process for almost
  * every checkpoint file on a `file:` path: `FileContext.rename` resolves
  * links by running `readlink`, and `RawLocalFileSystem.setPermission`
  * runs `chmod` for every data and `.crc` file and directory it creates.
  * Offset, commit and state-delta writes happen every micro-batch, so
  * those launches were most of a small stream's batch time.
  *
  * For `file:` paths this manager writes temp files through a checksummed
  * `LocalFileSystem` whose raw layer sets modes with NIO, and Spark's
  * `RenameBasedFSDataOutputStream` publishes them with `FileSystem.rename`
  * (rename(2)); on a local disk `FileContext`'s no-overwrite rename was
  * the same existence check before rename(2). Hadoop's `.crc` side files,
  * Spark's own state-delta checksums, the file modes and the atomic
  * publish/cancel stay as they were. Reads now check the `.crc` files:
  * `FileContext.open` on a local path returns the raw stream, so the
  * default manager never did, and a flipped byte in an offsets file went
  * unnoticed. Paths with any other scheme get exactly the manager Spark
  * would choose.
  */
final class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (LocalCheckpointFiles.isFileScheme(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem =
          LocalCheckpointFiles.localFs(hadoopConf)
      }
    else {
      val stock = new Configuration(hadoopConf)
      stock.unset(LocalCheckpointFiles.ManagerKey)
      CheckpointFileManager.create(path, stock)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFiles {
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isFileScheme(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** A fresh checksummed local file system over `NioModes`. */
  private def localFs(conf: Configuration): FileSystem = {
    val fs = new LocalFileSystem(new NioModes)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** The raw local file system, setting modes through NIO rather than by
    * running `chmod`. Checkpoint files and directories get the default
    * modes less the umask, so there is never a sticky bit to set.
    */
  private final class NioModes extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.getUserAction.SYMBOL +
          perm.getGroupAction.SYMBOL + perm.getOtherAction.SYMBOL))
  }
}
