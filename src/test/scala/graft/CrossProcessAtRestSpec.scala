package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CROSS-PROCESS at-rest maintenance proof (the r13 verdict's item 2):
  * [[AtRest.swapInPlace]]'s JVM monitor serializes same-process
  * maintenance, and cross-process rename races were handled by
  * REASONING ("lost rename with live dir = healer won, treat as
  * success") — this spec drives the reasoning for real. A second JVM
  * (graft.AtRestChaos, spawned with the Spark jars + compiled classes
  * on its classpath) runs compact / tombstone-fold loops against the
  * SAME index tree this JVM is concurrently compacting, appending
  * tombstone ticks to, and reading, and the spec asserts the three
  * invariants the design claims:
  *
  *   - NO WRONG READ: every read that returns at all returns exactly
  *     the expected relation (compaction is content-preserving; the
  *     serving view equals base-minus-all-appended-tombstones at every
  *     point). Transient read failures — a file listing pinned just
  *     before a swap finds its files renamed away at execution — are
  *     retried and counted, never wrong.
  *   - NO LOST UPDATE: after both processes finish and the tombstone
  *     tree drains, the index contains exactly the seed rows minus
  *     every tombstoned id — no takedown dropped by a concurrent
  *     compact landing a pre-purge snapshot after the fold spent its
  *     ticks (the race [[AtRest.withMaintenanceLock]] exists to close).
  *   - NO WEDGED TREE: no `.compact-tmp`/`.compact-old` residue
  *     survives, and one more maintenance op + read succeed after the
  *     chaos.
  */
class CrossProcessAtRestSpec extends SparkSpec {

  private val baseDir = {
    val f = new java.io.File("target/graft-xproc")
    if (f.exists()) AtRest.deleteRecursively(f)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Seed a doc_id/payload index of n rows with a derived checksum
    * column, written as one committed parquet relation. */
  private def seedIndex(dir: String, n: Int): Unit = {
    spark.range(n.toLong)
      .select(col("id").as("doc_id"), (col("id") * 7L).as("payload"))
      .repartition(2)
      .write.mode("overwrite").parquet(dir)
  }

  private def expectedSum(n: Int, excluded: Set[Long]): Long =
    (0L until n.toLong).filterNot(excluded).map(_ * 7L).sum

  /** (row count, payload sum) with retries: under a concurrent swap a
    * pinned listing can execute after its files were renamed away —
    * that read FAILS (never returns stale rows, the files are gone),
    * and the retry re-lists the now-live generation. */
  private def readChecksum(build: () => DataFrame, tries: Int = 12): (Long, Long, Int) = {
    var attempt = 0
    while (true) {
      try {
        val r = build().agg(count(lit(1)), coalesce(sum(col("payload")), lit(0L))).collect()(0)
        return (r.getLong(0), r.getLong(1), attempt)
      } catch {
        case t: Throwable if attempt < tries - 1 =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    sys.error("unreachable")
  }

  /** Spawn the AtRestChaos worker JVM and wait for CHAOS_READY, so the
    * two processes' maintenance loops genuinely overlap. Classpath =
    * this (forked) test JVM's own classpath, which sbt set to the full
    * compile+test classpath including /opt/spark/jars. */
  private def spawnWorker(logName: String, jvmProps: Seq[String], args: String*): (Process, java.io.File) = {
    val cp = System.getProperty("java.class.path")
    assert(cp.contains("classes") || cp.contains(".jar"),
      s"unexpected test classpath: $cp")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val javaBin = new java.io.File(new java.io.File(sys.props("java.home"), "bin"), "java")
    val log = new java.io.File(baseDir, logName)
    val cmd = (Seq(javaBin.getAbsolutePath) ++ addOpens ++ jvmProps ++
      Seq("-Xmx2g", "-cp", cp, "graft.AtRestChaos") ++ args)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val p = pb.start()
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!(log.isFile && new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
        .contains("CHAOS_READY"))) {
      assert(p.isAlive, s"worker died before READY — log:\n${workerLog(log)}")
      assert(System.nanoTime() < deadline, "worker did not become READY in 120s")
      Thread.sleep(200)
    }
    (p, log)
  }

  private def workerLog(log: java.io.File): String =
    if (log.isFile) new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8") else "<no log>"

  private def awaitOk(p: Process, log: java.io.File): Unit = {
    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      s"worker did not exit in 180s — log:\n${workerLog(log)}")
    assert(p.exitValue() == 0 && workerLog(log).contains("CHAOS_OK"),
      s"worker failed (exit ${p.exitValue()}) — log:\n${workerLog(log)}")
  }

  private def assertNoResidue(dir: String): Unit = {
    AtRest.restoreCrashedSwap(new java.io.File(dir))
    assert(!new java.io.File(dir + ".compact-tmp").exists(), "tmp residue left")
    assert(!new java.io.File(dir + ".compact-old").exists(), "backup residue left")
    assert(AtRest.isBuilt(new java.io.File(dir)), "index not serving after chaos")
  }

  test("cross-process concurrent compacts: every read exact, tree unwedged") {
    val idx = s"$baseDir/idx_compact"
    val n = 5000
    seedIndex(idx, n)
    val want = expectedSum(n, Set.empty)

    val (p, log) = spawnWorker("compact.log", Nil, "compact", idx, "12")
    var retries = 0
    (0 until 12).foreach { i =>
      AtRest.compact(spark, idx, Seq("doc_id"), numFiles = 1 + (i % 3))
      val (cnt, sum, att) = readChecksum(() => spark.read.parquet(idx))
      retries += att
      assert(cnt == n.toLong && sum == want,
        s"wrong read during chaos at iter $i: ($cnt, $sum)")
    }
    awaitOk(p, log)

    assertNoResidue(idx)
    val (cnt, sum, _) = readChecksum(() => spark.read.parquet(idx))
    assert(cnt == n.toLong && sum == want)
    AtRest.compact(spark, idx, Seq("doc_id")) // still maintainable
    val (cnt2, sum2, _) = readChecksum(() => spark.read.parquet(idx))
    assert(cnt2 == n.toLong && sum2 == want)
    info(s"12 local + 12 worker compacts interleaved; $retries transient read retries")
  }

  test("cross-process fold + compact + tick appends: no lost takedown, serving exact throughout") {
    val idx = s"$baseDir/idx_fold"
    val tomb = s"$baseDir/tomb_fold"
    val n = 5000
    seedIndex(idx, n)

    // serving view, tombs listed FIRST (the pairsAtRestServing ordering:
    // an old-tick superset anti-joined against a possibly-newer index is
    // always exact; the reverse order could transiently resurrect)
    def serving(): DataFrame = {
      val ticks = AtRest.committedTickDirs(tomb)
      val raw = spark.read.parquet(idx)
      if (ticks.isEmpty) raw
      else raw.join(
        broadcast(spark.read.parquet(ticks.map(_.getAbsolutePath): _*)
          .select("doc_id").distinct()),
        Seq("doc_id"), "left_anti")
    }

    val (p, log) = spawnWorker("fold.log", Nil, "fold", idx, tomb, "25")
    val appended = scala.collection.mutable.Set.empty[Long]
    var retries = 0
    (1 to 30).foreach { k =>
      val ids = Seq(3L * k, 3L * k + 1)
      import spark.implicits._
      ids.toDF("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$tomb/batch_id=$k")
      appended ++= ids
      if (k % 3 == 0) AtRest.compact(spark, idx, Seq("doc_id"), numFiles = 2)
      val want = expectedSum(n, appended.toSet)
      val (cnt, sum, att) = readChecksum(() => serving())
      retries += att
      assert(cnt == n.toLong - appended.size && sum == want,
        s"serving view wrong after tick $k: ($cnt, $sum) want (${n - appended.size}, $want)")
    }
    awaitOk(p, log)

    // drain: fold until every committed tick is spent (each pass is
    // idempotent; a pass that loses a swap race retries)
    var guard = 0
    while (AtRest.committedTickDirs(tomb).nonEmpty && guard < 20) {
      AtRest.applyTombstones(spark, idx, tomb, Seq("doc_id"))
      guard += 1
    }
    assert(AtRest.committedTickDirs(tomb).isEmpty, "tombstone tree did not drain")

    assertNoResidue(idx)
    val want = expectedSum(n, appended.toSet)
    val (cnt, sum, _) = readChecksum(() => spark.read.parquet(idx))
    assert(cnt == n.toLong - appended.size && sum == want,
      s"PHYSICAL index after drain: ($cnt, $sum) want (${n - appended.size}, $want) — a lost takedown or a resurrected row")
    // and no tombstoned id survives physically
    val leaked = spark.read.parquet(idx)
      .filter(col("doc_id").isin(appended.toSeq.map(Long.box): _*)).count()
    assert(leaked == 0, s"$leaked purged doc_ids still physically present")
    info(s"30 ticks + 10 local compacts + 25 worker folds interleaved; $retries transient read retries")
  }

  /** Hard-kill (`Runtime.halt` via `-Dgraft.chaos.halt=<point>`) a
    * worker mid-fold and return once it is dead, asserting it died at
    * the injected point (exit 42, CHAOS_HALT in the log, no CHAOS_OK). */
  private def crashWorker(logName: String, point: String, idx: String, tomb: String): Unit = {
    val (p, log) = spawnWorker(logName, Seq(s"-Dgraft.chaos.halt=$point"),
      "fold", idx, tomb, "1")
    assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      s"crash worker did not exit in 180s — log:\n${workerLog(log)}")
    assert(p.exitValue() == 42 && workerLog(log).contains(s"CHAOS_HALT at $point"),
      s"worker did not die at the injected point (exit ${p.exitValue()}) — log:\n${workerLog(log)}")
    assert(!workerLog(log).contains("CHAOS_OK"), "worker claimed completion after a halt")
  }

  test("crash BETWEEN the two swap renames: survivor heals — no lost takedown, reads exact, tree unwedged") {
    val idx = s"$baseDir/idx_crash_between"
    val tomb = s"$baseDir/tomb_crash_between"
    val n = 2000
    seedIndex(idx, n)
    val doomed = Set(30L, 31L, 60L, 61L)
    import spark.implicits._
    doomed.toSeq.sorted.toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$tomb/batch_id=1")

    // Worker dies with the live dir renamed aside and the folded
    // content sitting complete in tmp — the exact window the
    // restoreCrashedSwap contract documents.
    crashWorker("crash_between.log", "between-renames", idx, tomb)

    // Post-mortem, BEFORE any healer runs (raw file checks only — no
    // AtRest read predicate, those heal as a side effect):
    val dirF = new java.io.File(idx)
    assert(!dirF.exists(), "crash window not reached: live dir still present")
    assert(new java.io.File(idx + ".compact-old").isDirectory, "backup missing in crash window")
    assert(new java.io.File(idx + ".compact-tmp", "_SUCCESS").isFile,
      "folded tmp incomplete in crash window")
    // and the crashed process's kernel FileLock died with it — a fresh
    // acquisition must succeed immediately rather than block/throw
    AtRest.withMaintenanceLock(idx) { () }
    // NEGATIVE CONTROL — this is what "restoreCrashedSwap disabled"
    // serves: no index at all. Every read fails until a healer runs;
    // were the healer a no-op, the post-heal assertions below could
    // never pass, so this spec case fails outright without it.
    intercept[Throwable] { spark.read.parquet(idx).count() }

    // Any survivor's first touch heals: tmp carries _SUCCESS, so the
    // fold is PROMOTED (takedown landed, not rolled back) and the
    // backup dropped.
    AtRest.restoreCrashedSwap(dirF)
    assert(AtRest.isBuilt(dirF), "heal did not restore a serving index")
    assert(!new java.io.File(idx + ".compact-tmp").exists(), "tmp residue after heal")
    assert(!new java.io.File(idx + ".compact-old").exists(), "backup residue after heal")
    val want = expectedSum(n, doomed)
    val (cnt, sum, _) = readChecksum(() => spark.read.parquet(idx))
    assert(cnt == n.toLong - doomed.size && sum == want,
      s"healed index: ($cnt, $sum) want (${n - doomed.size}, $want)")
    // the crash hit BEFORE the post-swap tick cleanup, so the spent
    // ticks must still be present (deleting them only on a CONFIRMED
    // swap is the applyTombstones contract) — and re-applying them is
    // the idempotent anti-join, not a double-purge
    assert(AtRest.committedTickDirs(tomb).nonEmpty,
      "ticks vanished although the cleanup never ran — a crash later would lose takedowns")
    AtRest.applyTombstones(spark, idx, tomb, Seq("doc_id"))
    assert(AtRest.committedTickDirs(tomb).isEmpty, "re-fold did not spend the surviving ticks")
    val (cnt2, sum2, _) = readChecksum(() => spark.read.parquet(idx))
    assert(cnt2 == n.toLong - doomed.size && sum2 == want, "re-fold changed the healed content")
    AtRest.compact(spark, idx, Seq("doc_id")) // tree still maintainable
    val (cnt3, sum3, _) = readChecksum(() => spark.read.parquet(idx))
    assert(cnt3 == n.toLong - doomed.size && sum3 == want)
  }

  test("crash AFTER the swap (stale backup beside live dir): heal drops the backup, next swap unwedged") {
    val idx = s"$baseDir/idx_crash_after"
    val tomb = s"$baseDir/tomb_crash_after"
    val n = 2000
    seedIndex(idx, n)
    val doomed = Set(12L, 13L)
    import spark.implicits._
    doomed.toSeq.sorted.toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$tomb/batch_id=1")

    crashWorker("crash_after.log", "after-swap", idx, tomb)

    // post-mortem: new content live, stale backup beside it — the state
    // that would wedge the NEXT swap's rename-aside if left in place
    assert(new java.io.File(idx, "_SUCCESS").isFile, "live dir lost in after-swap window")
    assert(new java.io.File(idx + ".compact-old").isDirectory, "backup missing in after-swap window")
    val want = expectedSum(n, doomed)
    val (cnt, sum, _) = readChecksum(() => spark.read.parquet(idx))
    assert(cnt == n.toLong - doomed.size && sum == want, "promoted fold content wrong after crash")

    AtRest.restoreCrashedSwap(new java.io.File(idx))
    assert(!new java.io.File(idx + ".compact-old").exists(), "stale backup survived the heal")
    // the crash predates the tick cleanup here too: drain and verify
    AtRest.applyTombstones(spark, idx, tomb, Seq("doc_id"))
    assert(AtRest.committedTickDirs(tomb).isEmpty)
    AtRest.compact(spark, idx, Seq("doc_id"), numFiles = 2) // the next swap must not wedge
    val (cnt2, sum2, _) = readChecksum(() => spark.read.parquet(idx))
    assert(cnt2 == n.toLong - doomed.size && sum2 == want)
  }
}
