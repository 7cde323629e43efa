package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager of every configured session
  * (named in [[graft.Tables.sessionConfs]]): offset and commit logs,
  * state-store changelogs and snapshots, and their checksum files all go
  * through it.
  *
  * A `file:` path goes to [[CheckpointFiles.LocalFiles]], every other
  * scheme to Spark's default `FileContextBasedCheckpointFileManager`, so
  * other schemes keep its atomic no-overwrite rename. Without the native
  * Hadoop library, a FileContext rename of a local file reads the link
  * status of source and destination by forking `readlink`, and its create
  * path forks `chmod`; the FileSystem calls of `LocalFiles` start no
  * process on a rename or probe. */
class CheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme == "file") new CheckpointFiles.LocalFiles(path, conf)
    else new FileContextBasedCheckpointFileManager(path, conf)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object CheckpointFiles {

  /** Spark's `FileSystemBasedCheckpointFileManager` with the local-file
    * rename of the default manager: a no-overwrite rename fails on an
    * existing destination, and an overwriting one deletes it first
    * (Hadoop's FileContext rename does the same check, delete and rename
    * on a local file system). The delete is needed because a 2-arg
    * `FileSystem.rename` may refuse an existing destination: Hive's
    * `ProxyLocalFileSystem`, which hive-exec registers for `file:`, does,
    * and the plain manager then keeps the old file without an error. */
  private[graft] class LocalFiles(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible) fs.delete(dst, false)
      super.renameTempFile(src, dst, overwriteIfPossible)
    }
  }
}
