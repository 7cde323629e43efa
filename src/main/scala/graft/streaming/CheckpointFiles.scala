package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
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
  * other schemes keep its atomic no-overwrite rename.
  *
  * Invariant: no call on a `file:` path starts a process. Without the
  * native Hadoop library, Hadoop's local file system forks `chmod` for
  * every file and directory it creates and a FileContext rename forks
  * `readlink`; `LocalFiles` creates, renames and probes files without
  * either. */
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

  /** Spark's `FileSystemBasedCheckpointFileManager` on its own Hadoop
    * `LocalFileSystem` over [[InProcessPermissions]]. Owning it, instead
    * of swapping the cached `file:` one through `fs.file.impl` (which
    * would depend on which caller asked for `file:` first), keeps the
    * umask and checksum settings of the manager's configuration; `.crc`
    * side files are written on create and checked on open.
    *
    * A no-overwrite rename fails on an existing destination and deletes
    * its temp file, which Spark's output stream leaves behind when the
    * rename throws. An overwriting one deletes the destination first, as
    * Hadoop's FileContext rename does on a local file system, so it does
    * not rely on a 2-arg `FileSystem.rename` replacing an existing file
    * (Hive's `ProxyLocalFileSystem`, which hive-exec registers for
    * `file:`, refuses to). */
  private[graft] class LocalFiles(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {

    override protected val fs: FileSystem = {
      val local = new LocalFileSystem(new InProcessPermissions)
      local.setConf(conf)
      local.initialize(URI.create("file:///"), conf)
      local
    }

    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible) fs.delete(dst, false)
      else if (fs.exists(dst)) {
        fs.delete(src, false)
        throw new FileAlreadyExistsException(s"Failed to rename $src to $dst: destination exists")
      }
      super.renameTempFile(src, dst, overwriteIfPossible)
    }
  }

  /** Hadoop's raw local file system with the rwx bits of `setPermission`
    * set in-process: the inherited one runs `chmod` in a shell without the
    * native Hadoop library. Only a sticky bit, which java.nio cannot set
    * and no checkpoint file or directory gets, still goes to Hadoop. */
  private final class InProcessPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
  }
}
