package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.streaming.CheckpointFiles
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}

/** [[CheckpointFiles]] must behave like Spark's default
  * `FileContextBasedCheckpointFileManager` on a `file:` directory: every
  * case below runs against both. It must also pick its delegate by
  * scheme, give its files and directories the modes the default manager
  * gives, start no process on a `file:` path, and be the manager a
  * configured session's streams get. */
class CheckpointFilesSpec extends SparkSpec {

  private val managers: Seq[(String, (Path, Configuration) => CheckpointFileManager)] = Seq(
    "CheckpointFiles" -> ((p, c) => new CheckpointFiles(p, c)),
    "FileContextBasedCheckpointFileManager" -> ((p, c) => new FileContextBasedCheckpointFileManager(p, c)))

  /** A fresh `file:` temp dir and a manager rooted at it. */
  private def withManager(make: (Path, Configuration) => CheckpointFileManager)
      (body: (CheckpointFileManager, Path) => Unit): Unit = {
    val dir = new Path(Files.createTempDirectory("graft_ckptfiles").toUri)
    body(make(dir, new Configuration()), dir)
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Names in the directory, `.crc` side files included. */
  private def names(dir: Path): Set[String] =
    Option(new java.io.File(dir.toUri).list()).map(_.toSet).getOrElse(Set.empty)

  for ((name, make) <- managers) {
    test(s"$name: no-overwrite createAtomic over an existing file throws and keeps the old bytes") {
      withManager(make) { (fm, dir) =>
        val p = new Path(dir, "1")
        write(fm, p, "old", overwrite = false)
        intercept[FileAlreadyExistsException](write(fm, p, "new", overwrite = false))
        assert(read(fm, p) == "old")
        // the default manager leaves the losing temp file and its .crc behind
        if (fm.isInstanceOf[CheckpointFiles]) assert(names(dir) == Set("1", ".1.crc"), names(dir))
      }
    }

    test(s"$name: overwriteIfPossible replaces the file") {
      withManager(make) { (fm, dir) =>
        val p = new Path(dir, "1")
        write(fm, p, "old", overwrite = false)
        write(fm, p, "new", overwrite = true)
        assert(read(fm, p) == "new")
        assert(names(dir) == Set("1", ".1.crc"))
      }
    }

    test(s"$name: cancel leaves neither the temp file nor the destination") {
      withManager(make) { (fm, dir) =>
        val p = new Path(dir, "1")
        val out = fm.createAtomic(p, overwriteIfPossible = false)
        out.write("partial".getBytes(UTF_8))
        out.cancel()
        assert(!fm.exists(p))
        assert(names(dir).isEmpty, names(dir))
      }
    }

    test(s"$name: list, exists and delete") {
      withManager(make) { (fm, dir) =>
        Seq("1", "2", "3.delta").foreach(n => write(fm, new Path(dir, n), n, overwrite = false))
        assert(fm.list(dir).map(_.getPath.getName).toSet == Set("1", "2", "3.delta"))
        assert(fm.list(dir, (p: Path) => p.getName.endsWith(".delta")).map(_.getPath.getName).toSeq
          == Seq("3.delta"))
        assert(fm.exists(new Path(dir, "2")) && !fm.exists(new Path(dir, "4")))
        fm.delete(new Path(dir, "2"))
        fm.delete(new Path(dir, "4")) // a missing path is not an error
        assert(!fm.exists(new Path(dir, "2")))
        assert(names(dir) == Set("1", ".1.crc", "3.delta", ".3.delta.crc"))
        val sub = new Path(dir, "sub")
        fm.mkdirs(sub)
        assert(fm.exists(sub) && fm.list(sub).isEmpty)
        assert(fm.isLocal)
      }
    }
  }

  test("CheckpointFiles: open checks the .crc of a file changed outside Hadoop") {
    withManager((p, c) => new CheckpointFiles(p, c)) { (fm, dir) =>
      val p = new Path(dir, "1")
      write(fm, p, "committed", overwrite = false)
      Files.write(Paths.get(p.toUri), "corrupted".getBytes(UTF_8)) // same length, no .crc update
      intercept[ChecksumException](read(fm, p))
    }
  }

  test("CheckpointFiles gives files, .crc files and directories the default manager's modes") {
    def mode(dir: Path, name: String): String =
      PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(new Path(dir, name).toUri)))
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val dir = new Path(Files.createTempDirectory("graft_ckptmodes").toUri)
      val modes = managers.map { case (name, make) =>
        val fm = make(dir, conf)
        write(fm, new Path(dir, name), name, overwrite = false)
        fm.mkdirs(new Path(dir, s"$name.d"))
        Seq(name, s".$name.crc", s"$name.d").map(mode(dir, _))
      }
      assert(modes.distinct.size == 1, s"umask $umask: $modes")
      if (umask.isDefined) assert(modes.head == Seq("rw-------", "rw-------", "rwx------"), modes.head)
    }
  }

  test("CheckpointFiles starts no process on a file: path") {
    withManager((p, c) => new CheckpointFiles(p, c)) { (fm, dir) =>
      val seen = new ConcurrentLinkedQueue[String]()
      val running = new AtomicBoolean(true)
      val poller = new Thread(() =>
        while (running.get) ProcessHandle.current().descendants().iterator().asScala
          .foreach(_.info().commandLine().ifPresent(seen.add(_))))
      poller.start()
      try (0 until 100).foreach { i => // 200 createAtomic calls
        val sub = new Path(dir, s"d$i")
        fm.mkdirs(sub)
        write(fm, new Path(sub, "1"), s"v$i", overwrite = false)
        write(fm, new Path(sub, "1"), s"w$i", overwrite = true)
        assert(read(fm, new Path(sub, "1")) == s"w$i")
      } finally {
        running.set(false)
        poller.join()
      }
      val root = new java.io.File(dir.toUri).getPath
      assert(!seen.asScala.exists(_.contains(root)), seen.asScala.filter(_.contains(root)).take(5))
    }
  }

  test("the delegate follows the scheme: file (or a scheme-less local path) vs any other") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.fake.impl", classOf[FakeSchemeFs].getName)
    def delegate(p: String) = new CheckpointFiles(new Path(p), conf).delegate
    assert(delegate("file:/tmp/graft_ckpt").isInstanceOf[CheckpointFiles.LocalFiles])
    assert(delegate("/tmp/graft_ckpt").isInstanceOf[CheckpointFiles.LocalFiles])
    assert(delegate("fake:/tmp/graft_ckpt").isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("a configured session's streams get CheckpointFiles") {
    val fm = CheckpointFileManager.create(new Path("/tmp/graft_ckpt"), spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[CheckpointFiles], fm.getClass.getName)
  }
}

/** The local file system under the scheme `fake:`, for the scheme test:
  * Hadoop's FileContext needs an `AbstractFileSystem` per scheme. */
class FakeSchemeFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "fake", false)
