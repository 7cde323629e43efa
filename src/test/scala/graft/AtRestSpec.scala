package graft

import org.apache.spark.sql.functions._

/** Lifecycle management of the at-rest index family: compaction of
  * streaming-appended tick fragments (bounded file counts, byte-identical
  * content) and garbage collection of stale fingerprint generations —
  * without these, the minutes-cadence refresh sinks turn the index trees
  * into a small-files problem within days at production rates, and every
  * corpus regeneration leaks a dead index generation forever. */
class AtRestSpec extends SparkSpec {

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(dir)
  }

  test("compact: rewrites a fragmented index to a bounded file count, content byte-identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/idx"
    // a fragmented index: 16 shuffle partitions → 16 small files
    (1L to 5000L).map(i => (i, i % 97, s"p$i")).toDF("a_id", "b_id", "payload")
      .repartition(16).write.parquet(dir)
    val before = spark.read.parquet(dir).collect().toSet
    assert(parquetFiles(new java.io.File(dir)).size >= 8, "precondition: fragmented")
    AtRest.compact(spark, dir, Seq("a_id", "b_id"), numFiles = 3)
    val after = spark.read.parquet(dir)
    assert(parquetFiles(new java.io.File(dir)).size <= 3, "file count not bounded")
    assert(after.collect().toSet == before, "compaction changed content")
    assert(!new java.io.File(dir + ".compact-tmp").exists &&
      !new java.io.File(dir + ".compact-old").exists, "temp dirs must be cleaned up")
  }

  test("compactTicks: folds all but the newest tick into history (replay fence); later ticks keep appending") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cticks").toString + "/pairs"
    // simulate three maintenance ticks of a streaming index
    for (id <- 0 to 2)
      (1L to 400L).map(i => (id * 1000L + i, i % 7)).toDF("a_id", "b_id")
        .write.mode("overwrite").parquet(s"$dir/batch_id=$id")
    val before = spark.read.parquet(dir).select("a_id", "b_id").collect().toSet
    assert(parquetFiles(new java.io.File(dir)).size >= 6, "precondition: one fragment set per tick")
    AtRest.compactTicks(spark, dir, Seq("a_id", "b_id"), numFiles = 2)
    val compacted = spark.read.parquet(dir)
    assert(compacted.select("a_id", "b_id").collect().toSet == before,
      "compaction changed data columns")
    // the REPLAY FENCE: ticks 0-1 fold to the -1 history sentinel, but
    // the newest tick (2) — whose checkpoint may not have committed —
    // stays under its own partition so an at-least-once replay can
    // still exclude/rewrite exactly its own rows
    assert(compacted.select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L, 2L),
      "history must fold to -1 while the newest tick stays fenced")
    assert(parquetFiles(new java.io.File(s"$dir/batch_id=-1")).size <= 2,
      "folded history file count not bounded")
    // the stream resumes; the NEXT maintenance pass folds the
    // previously-fenced tick and fences the new one
    Seq((9001L, 3L)).toDF("a_id", "b_id").write.parquet(s"$dir/batch_id=3")
    AtRest.compactTicks(spark, dir, Seq("a_id", "b_id"), numFiles = 2)
    val resumed = spark.read.parquet(dir)
    assert(resumed.select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(-1L, 3L),
      "second pass must fold the previously-fenced tick")
    assert(resumed.count() == before.size + 1L, "post-compaction tick append lost rows")
    assert(resumed.filter(col("batch_id") === 3L).count() == 1L)
  }

  test("one committed-tick definition: a compacted tree, per-tick markers, a torn tick, a missing tree") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_committed").toString
    def tick(dir: String, id: Long, committed: Boolean): Unit = {
      Seq(Tuple1(id)).toDF("doc_id").write.parquet(s"$dir/batch_id=$id")
      if (!committed) new java.io.File(s"$dir/batch_id=$id", "_SUCCESS").delete()
    }
    // (layout, build, committed ids, committed dirs relative to the
    // tree, doc_ids the committed relation reads)
    val layouts: Seq[(String, String => Unit, Seq[Long], Seq[String], Set[Long])] = Seq(
      // a tick written after a compaction commits only by its own
      // marker: the rewritten tree commits nothing beyond its two ticks
      ("compacted tree", { d =>
        Seq(0L, 1L, 2L).foreach(tick(d, _, committed = true))
        AtRest.compactTicks(spark, d, Seq("doc_id"), numFiles = 1)
        tick(d, 3L, committed = false)
      }, Seq(-1L, 2L), Seq("batch_id=-1", "batch_id=2"), Set(0L, 1L, 2L)),
      ("per-tick markers", { d =>
        Seq(0L, 1L, 2L).foreach(tick(d, _, committed = true))
      }, Seq(0L, 1L, 2L), Seq("batch_id=0", "batch_id=1", "batch_id=2"), Set(0L, 1L, 2L)),
      ("torn tick", { d =>
        tick(d, 0L, committed = true); tick(d, 1L, committed = false)
      }, Seq(0L), Seq("batch_id=0"), Set(0L)),
      ("missing tree", _ => (), Nil, Nil, Set.empty[Long]))
    layouts.foreach { case (name, build, ids, dirs, rows) =>
      val dir = s"$base/${name.replace(' ', '_')}"
      build(dir)
      assert(AtRest.committedTicks(dir) == ids, name)
      assert(AtRest.committedTickDirs(dir).map(_.getPath) ==
        dirs.map(r => new java.io.File(dir, r).getPath), name)
      assert(AtRest.isBuilt(new java.io.File(dir)) == dirs.nonEmpty, name)
      assert(AtRest.committedRelation(spark, dir).map(_.as[Long].collect().toSet)
        .getOrElse(Set.empty) == rows, name)
    }
    // the replay exclusion: a tick reading its own tree never sees itself
    val perTick = s"$base/per-tick_markers"
    assert(AtRest.committedRelation(spark, perTick, except = Some(2L))
      .map(_.as[Long].collect().toSet).contains(Set(0L, 1L)))
    // the next compaction of the compacted tree folds the fenced tick,
    // fences the new one, and leaves the torn tick's rows out of history
    val compacted = s"$base/compacted_tree"
    tick(compacted, 4L, committed = true)
    AtRest.compactTicks(spark, compacted, Seq("doc_id"), numFiles = 1)
    assert(AtRest.committedTicks(compacted) == Seq(-1L, 4L))
    assert(AtRest.ticksRelation(spark, compacted, Seq(-1L)).as[Long].collect().toSet ==
      Set(0L, 1L, 2L), "a torn tick was folded into history")
    assert(!new java.io.File(s"$compacted/batch_id=3").exists, "torn tick carried into the rewrite")
  }

  /** Three committed ticks (doc_id = tick id) at `dir`. */
  private def threeTicks(dir: String): Unit = {
    import spark.implicits._
    Seq(0L, 1L, 2L).foreach(id => AtRest.writeTick(Seq(Tuple1(id)).toDF("doc_id"), dir, id))
  }

  test("compactTicks crash between the swap renames: the next reader heals the pre-compaction tree") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cticks_crash").toString
    val dir = s"$base/tree"
    // the finished rewrite, as compactTicks leaves it in `.compact-tmp`:
    // the same tree compacted elsewhere, then moved into place
    threeTicks(dir)
    threeTicks(s"$base/other")
    AtRest.compactTicks(spark, s"$base/other", Seq("doc_id"), numFiles = 1)
    assert(new java.io.File(s"$base/other").renameTo(new java.io.File(dir + ".compact-tmp")))
    // death after `dir → dir.compact-old`, before `tmp → dir`
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".compact-old")),
      "precondition: simulate crash")
    // the rewrite carries no root marker, so the backup — fully
    // committed — is restored and the fold simply runs again
    assert(AtRest.committedTicks(dir) == Seq(0L, 1L, 2L), "backup not restored")
    assert(AtRest.committedRelation(spark, dir).map(_.as[Long].collect().toSet)
      .contains(Set(0L, 1L, 2L)))
    assert(!new java.io.File(dir + ".compact-old").exists &&
      !new java.io.File(dir + ".compact-tmp").exists, "temp dirs must be cleaned up")
    AtRest.compactTicks(spark, dir, Seq("doc_id"), numFiles = 1)
    assert(AtRest.committedTicks(dir) == Seq(-1L, 2L))
  }

  test("compactTicks: a stale .compact-tmp tick of an aborted pass is not carried into the rewrite") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cticks_stale").toString + "/tree"
    threeTicks(dir)
    AtRest.writeTick(Seq(Tuple1(99L)).toDF("doc_id"), dir + ".compact-tmp", 7L)
    AtRest.compactTicks(spark, dir, Seq("doc_id"), numFiles = 1)
    assert(AtRest.committedTicks(dir) == Seq(-1L, 2L), "stale tick carried into the rewrite")
    assert(AtRest.committedRelation(spark, dir).map(_.as[Long].collect().toSet)
      .contains(Set(0L, 1L, 2L)))
  }

  test("compactTicks folds only committed ticks: a torn tick is neither folded, fenced nor kept") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cticks_torn").toString + "/pairs"
    for (id <- 0 to 3)
      Seq((id.toLong, 0L)).toDF("a_id", "b_id").write.parquet(s"$dir/batch_id=$id")
    new java.io.File(s"$dir/batch_id=3", "_SUCCESS").delete() // torn newest write
    AtRest.compactTicks(spark, dir, Seq("a_id"), numFiles = 1)
    val got = spark.read.parquet(dir)
      .select(col("a_id"), col("batch_id").cast("long")).as[(Long, Long)].collect().toSet
    // ticks 0-1 fold, the newest COMMITTED tick (2) stays fenced, and the
    // torn tick's rows appear nowhere (its batch replays and rewrites them)
    assert(got == Set((0L, -1L), (1L, -1L), (2L, 2L)), got)
    assert(!new java.io.File(s"$dir/batch_id=3").exists, "torn tick carried into the rewrite")
  }

  test("crash between the swap renames: the next reader heals the index (backup or finished rewrite)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/idx"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    val live = new java.io.File(dir)
    // death after `dir → dir.compact-old`, before `tmp → dir`, with no
    // finished rewrite: only the backup survives — restore it
    assert(live.renameTo(new java.io.File(dir + ".compact-old")), "precondition: simulate crash")
    assert(!live.exists)
    assert(AtRest.isBuilt(live), "read barrier must restore the backup")
    assert(spark.read.parquet(dir).count() == 2L)
    assert(!new java.io.File(dir + ".compact-old").exists, "backup must be consumed")
    // death in the same window but the rewrite COMPLETED (_SUCCESS in
    // tmp): prefer the finished compaction over the fragmented backup
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(dir + ".compact-tmp")
    assert(live.renameTo(new java.io.File(dir + ".compact-old")), "precondition: simulate crash")
    assert(AtRest.isBuilt(live), "read barrier must promote the finished rewrite")
    assert(spark.read.parquet(dir).count() == 3L, "the finished rewrite must win")
    assert(!new java.io.File(dir + ".compact-old").exists &&
      !new java.io.File(dir + ".compact-tmp").exists, "temp dirs must be cleaned up")
  }

  test("crash AFTER the swap completed: a stale backup beside the live dir cannot wedge the next swap") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_crash2").toString + "/idx"
    (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4).write.parquet(dir)
    // death after `tmp → dir` succeeded but before the backup cleanup:
    // live dir AND a (stale, non-empty) .compact-old coexist — without
    // healing, the NEXT swap's rename-aside lands on a non-empty
    // directory and every maintenance op throws until manual cleanup
    Seq((99L, "stale")).toDF("id", "v").write.parquet(dir + ".compact-old")
    val live = new java.io.File(dir)
    assert(live.exists && new java.io.File(dir + ".compact-old").exists,
      "precondition: live dir + stale backup")
    // a read heals it (the backup is provably dead once the live dir exists)
    assert(AtRest.isBuilt(live), "live index must stay readable")
    assert(!new java.io.File(dir + ".compact-old").exists,
      "stale post-swap backup must be removed by the read barrier")
    assert(spark.read.parquet(dir).count() == 50L, "live content untouched")
    // and the next maintenance swap proceeds even if the read-barrier
    // healing was skipped (defense in depth inside swapInPlace)
    Seq((100L, "again")).toDF("id", "v").write.parquet(dir + ".compact-old")
    AtRest.compact(spark, dir, Seq("id"), numFiles = 2)
    assert(spark.read.parquet(dir).count() == 50L, "compaction must survive a stale backup")
    assert(!new java.io.File(dir + ".compact-old").exists &&
      !new java.io.File(dir + ".compact-tmp").exists, "temp dirs must be cleaned up")
  }

  test("swap rollback with the live dir restored is success, not an exception") {
    import spark.implicits._
    // the round-11 ADVICE race shape: the second rename fails (here: the
    // tmp vanished — e.g. a concurrent healer consumed it) and the
    // rollback restores the live dir. The index ends up healthy, so the
    // maintenance call must RETURN (idempotent maintenance re-runs
    // later), not throw a spurious 'cannot swap'; no backup may linger.
    val dir = java.nio.file.Files.createTempDirectory("graft_crash3").toString + "/idx"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(dir)
    // a rollback must ALSO report the new content did NOT go live —
    // callers with destructive post-swap cleanup (tombstone tree,
    // folded ticks) key off this: deleting the rewrite's inputs after
    // a rollback would lose them while the OLD content still serves
    assert(!AtRest.swapInPlace(dir, dir + ".compact-tmp", "test"), // tmp does not exist
      "a rolled-back swap must report the new content is not live")
    assert(spark.read.parquet(dir).count() == 2L, "live index must keep serving")
    assert(!new java.io.File(dir + ".compact-old").exists &&
      !new java.io.File(dir + ".compact-tmp").exists, "temp dirs must be cleaned up")
    // and a clean swap reports promotion
    import org.apache.spark.sql.SaveMode
    Seq((3L, "c")).toDF("id", "v").write.mode(SaveMode.Overwrite)
      .parquet(dir + ".compact-tmp")
    assert(AtRest.swapInPlace(dir, dir + ".compact-tmp", "test"),
      "a completed swap must report the new content live")
    assert(spark.read.parquet(dir).count() == 1L, "promoted content must serve")
  }

  test("applyTombstones spends exactly the ticks it applied; an unapplied tick survives") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_tomb").toString
    val idx = s"$base/idx"
    val tomb = s"$base/tomb"
    Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id").write.parquet(idx)
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$tomb/batch_id=0")
    // an INCOMPLETE tick (no _SUCCESS — the committed-write marker):
    // the stand-in for a takedown landing DURING the rewrite. Deleting
    // the whole tree used to discard it un-applied — a silently dropped
    // legal takedown; the apply must read and spend only completed
    // ticks it enumerated up front.
    Seq(Tuple1(3L)).toDF("doc_id").write.parquet(s"$tomb/batch_id=1")
    new java.io.File(s"$tomb/batch_id=1", "_SUCCESS").delete()
    // the rollback side is pinned by the Boolean-return spec above
    // (tombstone clearing is gated on promotion); this pins the happy
    // path: applied ticks are spent exactly when the purged index
    // went live, unapplied ones survive to the next maintenance pass
    AtRest.applyTombstones(spark, idx, tomb, Seq("a_id", "b_id"))
    assert(spark.read.parquet(idx).count() == 1L, "tombstoned row purged")
    assert(spark.read.parquet(idx).collect().head.getLong(0) == 3L,
      "only the APPLIED tick's ids were purged")
    assert(!new java.io.File(s"$tomb/batch_id=0").exists,
      "spent tombstones are cleared after a PROMOTED swap")
    assert(new java.io.File(s"$tomb/batch_id=1").exists,
      "a tick not part of the rewrite must survive it")
    // the next maintenance pass picks the survivor up once it commits
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$tomb/batch_id=1", "_SUCCESS"))
    AtRest.applyTombstones(spark, idx, tomb, Seq("a_id", "b_id"))
    assert(spark.read.parquet(idx).count() == 0L, "second pass purges the late tick")
    assert(!new java.io.File(s"$tomb/batch_id=1").exists)
  }

  test("gcStale: removes dead fingerprint generations, keeps the live one") {
    import spark.implicits._
    val fam = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_gc").toFile, "idx_v1")
    val live = new java.io.File(fam, "aaaa1111aaaa1111")
    Seq((1L, "x")).toDF("id", "v").write.parquet(live.toString)
    // two dead generations from prior corpus/params fingerprints
    for (g <- Seq("bbbb2222bbbb2222", "cccc3333cccc3333")) {
      Seq((2L, "y")).toDF("id", "v")
        .write.parquet(new java.io.File(fam, g).toString)
    }
    assert(AtRest.gcStale(live) == 2)
    val left = fam.listFiles().filter(_.isDirectory).map(_.getName).toSeq
    assert(left == Seq("aaaa1111aaaa1111"), s"survivors: $left")
    assert(spark.read.parquet(live.toString).count() == 1L, "live generation must survive intact")
  }

  test("gcStale respects a HELD maintenance lock and sweeps the orphan once released (r14 ADVICE)") {
    import spark.implicits._
    val fam = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_gclock").toFile, "idx_v1")
    val live = new java.io.File(fam, "aaaa1111aaaa1111")
    Seq((1L, "x")).toDF("id", "v").write.parquet(live.toString)
    val staleGen = new java.io.File(fam, "bbbb2222bbbb2222")
    Seq((2L, "y")).toDF("id", "v").write.parquet(staleGen.toString)
    // a maintenance owner that resolved the generation BEFORE the
    // refresh still holds the lock file — GC must not unlink its inode
    val lockFile = new java.io.File(staleGen.getPath + ".maintlock")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      assert(AtRest.gcStale(live) == 1, "stale DIRECTORY still collects")
      assert(!staleGen.exists(), "stale generation directory removed")
      assert(lockFile.exists(), "held lock file must survive the GC pass")
    } finally { held.release(); ch.close() }
    // owner released: the orphan lock file (its directory is long gone,
    // so no directory-driven pass would ever match it) sweeps on the
    // next GC of the same family
    assert(AtRest.gcStale(live) == 0)
    assert(!lockFile.exists(), "orphan lock file must sweep once released")
  }

  test("gcStale is scoped per source: another corpus' generation survives the GC") {
    // the round-12 finding behind the bench oscillation: a verify pass
    // at one scale factor used to GC the bench tier's generations, so
    // the first bench query per family rebuilt inside a timed rep. Now
    // a generation's name carries a source tag and gcStale only removes
    // same-source (or legacy-format) siblings.
    val isoRoot = java.nio.file.Files.createTempDirectory("graft_gc_scope").toString
    val prevRoot = spark.conf.getOption("graft.atrest.dir")
    spark.conf.set("graft.atrest.dir", isoRoot)
    try {
      val a = AtRest.dir(spark, "/root/testdata/sf0.001", "spec_gc", "documents", "p=1")
      val b = AtRest.dir(spark, "/root/testdata/sf0.01", "spec_gc", "documents", "p=1")
      assert(a.getParentFile == b.getParentFile && a.getName != b.getName)
      assert(a.getName.takeWhile(_ != '_') != b.getName.takeWhile(_ != '_'),
        "different source dirs must carry different source tags")
      a.mkdirs(); b.mkdirs()
      // a dead generation of a's OWN source (same tag, old fingerprint)
      // and a legacy-format generation (pre-tag naming) — both stale
      val deadSameSrc = new java.io.File(a.getParentFile,
        a.getName.takeWhile(_ != '_') + "_00000000deadbeef")
      val legacy = new java.io.File(a.getParentFile, "0123456789abcdef")
      deadSameSrc.mkdirs(); legacy.mkdirs()
      assert(AtRest.gcStale(a) == 2,
        "same-source dead generation + legacy generation must be GC'd")
      val left = a.getParentFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(left == Set(a.getName, b.getName),
        s"the other corpus' generation must survive: $left")

      // a DEAD source (its directory deleted — e.g. a temp-dir test
      // corpus) can never be requested again: its generations are GC'd
      // even though the tag differs, via the _srcmap registry
      val deadCorpus = java.nio.file.Files.createTempDirectory("graft_gc_deadsrc")
      val c = AtRest.dir(spark, deadCorpus.toString, "spec_gc", "documents", "p=1")
      c.mkdirs()
      assert(AtRest.gcStale(a) == 0,
        "an existing source's generation must survive while its dir exists")
      java.nio.file.Files.delete(deadCorpus)
      assert(AtRest.gcStale(a) == 1, "dead-source generation must be GC'd")
      val left2 = a.getParentFile.listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(left2 == Set(a.getName, b.getName), s"only live sources remain: $left2")
    } finally {
      prevRoot match {
        case Some(r) => spark.conf.set("graft.atrest.dir", r)
        case None => spark.conf.unset("graft.atrest.dir")
      }
    }
  }

  test("derivation params are part of the fingerprint: changed params resolve to a fresh dir") {
    val a = AtRest.dir(spark, sf, "spec_idx", "documents", "shingle=3,jaccard>=0.5")
    val b = AtRest.dir(spark, sf, "spec_idx", "documents", "shingle=3,jaccard>=0.6")
    val c = AtRest.dir(spark, sf, "spec_idx", "documents", "shingle=3,jaccard>=0.5")
    assert(a.getName != b.getName, "different params must not alias one index dir")
    assert(a == c, "same params must resolve to the same dir")
    assert(a.getParentFile == b.getParentFile, "same family parent for GC scope")
  }
}
