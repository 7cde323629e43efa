package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Accumulation soak (r15 verdict item 4): the maintlock orphan leak
  * fixed in r15 was the class of defect only ACCUMULATION reveals — one
  * stray file per contended pass, invisible to any single-cycle spec.
  * This suite drives the at-rest maintenance lifecycle for hundreds of
  * interleaved cycles across two JVMs with chaos kills in the middle,
  * and a stateful stream for hundreds of batches across two
  * kill-restarts, asserting the STEADY-STATE invariants stay flat:
  * lock-file count, generation count, tmp/backup residue, state-store
  * rows, checkpoint log size, and zero persisted-RDD leaks. */
class SoakSpec extends SparkSpec {

  // r17 verdict item 1: two consecutive driver full-suite runs died
  // mid-flight under ambient load — the soak suites are the longest
  // wall-clock block and must fit the driver's budget. The DEFAULT run
  // keeps every invariant, lifecycle transition, chaos kill and
  // kill-restart but fewer accumulation cycles; SPARK_GRAFT_SOAK_FULL=1
  // restores the original counts for leak-hunt runs.
  private val fullSoak = sys.env.get("SPARK_GRAFT_SOAK_FULL").contains("1")
  private def scaled(full: Int, short: Int): Int = if (fullSoak) full else short

  private val baseDir = {
    val f = new java.io.File("target/graft-soak")
    if (f.exists()) AtRest.deleteRecursively(f)
    f.mkdirs()
    f.getAbsolutePath
  }

  private def countFiles(dir: String, suffix: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(suffix)) 1 else 0
    walk(new java.io.File(dir))
  }

  private def spawnWorker(logName: String, jvmProps: Seq[String], args: String*): (Process, java.io.File) = {
    val cp = System.getProperty("java.class.path")
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
      assert(p.isAlive, s"worker died before READY")
      assert(System.nanoTime() < deadline, "worker not READY in 120s")
      Thread.sleep(200)
    }
    (p, log)
  }

  test("maintenance soak: interleaved fold/compact cycles over 2 JVMs + chaos kills, invariants flat") {
    import spark.implicits._
    // Leak scope: the shared-session full-suite run reaches here with
    // OTHER suites' localCheckpoint RDDs still registered (they back
    // returned DataFrames and are released only by the ContextCleaner
    // after GC — r17 finding: this assert tripped on PipelineSpec
    // residue in a full `sbt test` while every solo run was green).
    // The invariant this soak owns is "the soak itself leaks nothing",
    // so assert on the DELTA against the entry snapshot.
    val preLeaked = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val idx = s"$baseDir/idx_soak"
    val tomb = s"$baseDir/tomb_soak"
    val n = 3000
    spark.range(n.toLong)
      .select(col("id").as("doc_id"), (col("id") * 7L).as("payload"))
      .repartition(2).write.mode("overwrite").parquet(idx)

    // concurrent second JVM: fold passes against the SAME tree while
    // the local loop below appends, folds, and compacts
    val (worker, wlog) = spawnWorker("soak_fold.log", Nil, "fold", idx, tomb,
      scaled(40, 12).toString)

    val appended = scala.collection.mutable.Set.empty[Long]
    (1 to scaled(120, 36)).foreach { k =>
      val ids = Seq(5L * k, 5L * k + 1)
      ids.toDF("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$tomb/batch_id=$k")
      appended ++= ids
      if (k % 3 == 0) AtRest.applyTombstones(spark, idx, tomb, Seq("doc_id"))
      if (k % 7 == 0) AtRest.compact(spark, idx, Seq("doc_id"), numFiles = 2)
      // steady-state invariant, EVERY cycle: exactly the two live lock
      // files (idx + tomb maintenance), never an accumulating trail
      val locks = countFiles(baseDir, ".maintlock")
      assert(locks <= 2, s"lock files accumulating at cycle $k: $locks")
    }
    assert(worker.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "worker hung")
    assert(worker.exitValue() == 0 &&
      new String(java.nio.file.Files.readAllBytes(wlog.toPath), "UTF-8").contains("CHAOS_OK"),
      "concurrent fold worker failed")

    // chaos kills mid-lifecycle: one in each swap window, healed by the
    // survivor — the soak must end exact THROUGH the kills
    Seq("between-renames", "after-swap").zipWithIndex.foreach { case (point, i) =>
      Seq(9000L + i).toDF("doc_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$tomb/batch_id=${200 + i}")
      appended += 9000L + i // not in the index; purge of absent ids is a no-op anti-join
      val (p, log) = spawnWorker(s"soak_crash_$i.log", Seq(s"-Dgraft.chaos.halt=$point"),
        "fold", idx, tomb, "1")
      assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(p.exitValue() == 42 &&
        new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8").contains("CHAOS_HALT"),
        s"crash worker $point did not die at the injected point")
      AtRest.restoreCrashedSwap(new java.io.File(idx))
    }

    // drain every committed tick (idempotent; lost swap races retry)
    var guard = 0
    while (AtRest.committedTickDirs(tomb).nonEmpty && guard < 30) {
      AtRest.applyTombstones(spark, idx, tomb, Seq("doc_id"))
      guard += 1
    }
    assert(AtRest.committedTickDirs(tomb).isEmpty, "tombstone tree did not drain")

    // terminal invariants: content exact (no lost takedown across ~200
    // cycles + 2 kills), tree unwedged, no residue, no leaked caches
    val want = (0L until n.toLong).filterNot(appended).map(_ * 7L).sum
    val got = spark.read.parquet(idx)
      .agg(count(lit(1)), coalesce(sum(col("payload")), lit(0L))).collect()(0)
    assert(got.getLong(0) == n - appended.count(_ < n) && got.getLong(1) == want,
      s"content drifted: (${got.getLong(0)}, ${got.getLong(1)})")
    assert(!new java.io.File(idx + ".compact-tmp").exists(), "tmp residue")
    assert(!new java.io.File(idx + ".compact-old").exists(), "backup residue")
    assert(countFiles(baseDir, ".maintlock") <= 2, "lock files accumulated")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- preLeaked
    assert(leaked.isEmpty, s"persisted-RDD leak: $leaked")
  }

  test("generation soak: alternating-params rebuild+GC cycles keep one live generation and no lock trail") {
    import spark.implicits._
    val src = s"$baseDir/gen_src"
    spark.range(500).select(col("id"), (col("id") % 9).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$src/t.parquet")
    (1 to scaled(30, 12)).foreach { k =>
      val params = s"p${k % 2}" // alternate params -> fresh fingerprint each cycle
      val f = AtRest.dir(spark, src, "soakfam_v1", "t", params)
      if (!AtRest.isBuilt(f)) {
        spark.read.parquet(s"$src/t.parquet").write.mode("overwrite").parquet(f.getPath)
      }
      AtRest.gcStale(f)
      // count only this source's generations: the shared at-rest root
      // may hold live generations of other checkouts' soak sources
      val ownTag = f.getName.takeWhile(_ != '_') + "_"
      val own = Option(f.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(ownTag))
      val gens = own.count(_.isDirectory)
      val locks = own.count(_.getName.endsWith(".maintlock"))
      assert(gens <= 1, s"generations accumulating at cycle $k: $gens")
      assert(locks <= 1, s"generation lock files accumulating at cycle $k: $locks")
    }
  }

  test("streaming soak: batches through watermarked dedup with two kill-restarts; state and logs bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ckpt = java.nio.file.Files.createTempDirectory("graft_soak_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_soak_out").toString
    // aggressive metadata retention so the boundedness assertion tests
    // the PURGE MECHANISM (the invariant), not the default 100-batch
    // retention window's slack
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "20")
    val in = MemoryStream[(java.sql.Timestamp, String)]
    def start() = StreamOps.dedupWithinWatermark(
        in.toDF().toDF("ts", "k"), "10 seconds", "k")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val t0 = 1700000000000L
    val nBatches = scaled(200, 80)
    val restarts = Set(nBatches * 35 / 100, nBatches * 70 / 100)
    var q = start()
    var lastStateRows = -1L
    try {
      (0 until nBatches).foreach { b =>
        val ts = new java.sql.Timestamp(t0 + b * 1000L)
        val key = s"k${b % 50}" // re-used only 50 s later, well past the horizon
        in.addData((ts, key), (ts, key)) // in-batch duplicate: dedup must emit exactly one
        q.processAllAvailable()
        if (restarts(b)) { q.stop(); q = start() } // kill-restart
        if (b % 40 == 39) {
          val p = q.lastProgress
          if (p != null && p.stateOperators.nonEmpty)
            lastStateRows = p.stateOperators.head.numRowsTotal
          // the watermark horizon holds ~10-20 keys; hundreds would mean no
          // eviction is happening
          assert(lastStateRows < 60, s"state store growing unbounded: $lastStateRows @ batch $b")
        }
      }
      q.processAllAvailable()
      // exactness across every batch and 2 restarts: one emission per
      // batch (the in-batch duplicate suppressed; horizon re-use re-emits)
      val emitted = spark.read.parquet(out).count()
      assert(emitted == nBatches.toLong,
        s"expected $nBatches first-arrival emissions, got $emitted")
      // checkpoint log boundedness: offsets/commits retain a bounded
      // window (minBatchesToRetain defaults to 100), never one file per
      // batch forever
      def entries(sub: String): Int =
        Option(new java.io.File(ckpt, sub).listFiles()).map(_.length).getOrElse(0)
      assert(entries("offsets") <= 60, s"offset log unbounded: ${entries("offsets")}")
      assert(entries("commits") <= 60, s"commit log unbounded: ${entries("commits")}")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.minBatchesToRetain", "100")
    }
  }
}
