package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Benchmark main: times every registered query (or the `SPARK_GRAFT_ONLY`
  * selection) at SPARK_GRAFT_SF_DIR and prints ONE compact JSON line, its
  * only stdout output.
  *
  * Each query runs [[REPS]] timed reps through [[Harness.timedRep]] (noop
  * sink, release after the clock) and reports the MEDIAN; the total is the
  * sum of medians. One GC or first-touch pause in a shared JVM can inflate
  * a single rep ~10×, so a single shot is not a per-query number.
  *
  * Before EVERY rep, outside the clock, a GC fence (System.gc, a short
  * sleep, and a wait until the task counters stop moving) pays the
  * collector debt left by the previous rep, so a neighbour's cache churn
  * is not collected inside this rep's measurement.
  *
  * Around each rep a SparkListener adds shuffle-write and spill bytes, and
  * the GC MXBeans and janino counter add GC ms and compilations: a row
  * that is slow WITH high gc/compile counts is environment-inflated, one
  * without them is intrinsically slow.
  *
  * The stdout line is capped (3-decimal seconds, length-capped query map,
  * failures then slowest first) so a reader that keeps only a 2000-char
  * output tail always holds the complete line; `value` totals ALL queries and
  * entries dropped from the map are counted in `omitted`. The complete
  * per-row attribution goes to `bench_attr.json`.
  *
  * HOST-SPEED CANARY: the warmup query is re-timed solo (median of 3,
  * same fence) before the suite, every [[CANARY_EVERY]] queries during
  * it, and once after. `host_factor` = median(canary medians) /
  * [[canaryRef]]; a factor ≳1.3 marks the run as taken in a contended
  * window, and each bench_attr row carries the canary median in effect
  * when it ran, so the drift is localized to the rows it overlapped.
  */
object Bench {
  private val REPS = 3

  private val CANARY_EVERY = 60
  private val CANARY_QUERY = "q1_pricing_summary"
  /** Quiet-host solo median of the canary per corpus tier, measured with
    * this same protocol (fence before each rep, noop sink, median of 3).
    * The reference must come from the protocol it divides: a canary rep
    * starts cold behind the fence, so its quiet median sits ~30 % above
    * the same query's warm in-suite row. The small tiers are dev-loop
    * only and coarse (fixed session overheads dominate). Unknown tiers
    * emit factor -1: no reference, never a guess. */
  private val canaryRef: Map[String, Double] = Map(
    "sf0.001" -> 0.30,
    "sf0.01" -> 0.35,
    "sf0.1" -> 1.10)

  /** Per-row environment-inflation verdict, composed from one row's
    * already-collected signals so a bench artifact adjudicates its own
    * hot rows. A row is SUSPECT when any of:
    *
    *   - "gc": GC time averaged per rep exceeds half the median rep
    *     wall time — the measurement is collector-dominated, usually
    *     debt inherited from cache-churning neighbors.
    *   - "settle": the FIRST rep ran ≥2× the median with the later
    *     reps settled (max of the rest within 1.5× of the median) —
    *     the cold-entry pattern (codegen/index/page-cache first-touch),
    *     not steady-state cost. The median itself is sound, so this
    *     marks the row explainable, not wrong.
    *   - "built": an at-rest index build was paid inside a timed rep.
    *   - "disperse": the reps scatter by more than 2× (max/min, with a
    *     0.05 s noise floor on the min) WITHOUT the settle pattern
    *     explaining it — ambient contention landed inside the timed
    *     window and even the median is untrustworthy (e.g. reps
    *     [15.9, 6.6, 19.0] whose quiet re-time read 0.32 s). A settled
    *     cold entry stays "settle"-only: there the median IS sound.
    *
    * Pure, so the thresholds are pinned by unit test (BenchSuspectSpec)
    * rather than by a flaky GC-hammering run. Empty = clean. */
  private[graft] def suspectReasons(medianSecs: Double, repSecs: Seq[Double],
      gcMsTotal: Long, built: Seq[String]): Seq[String] = {
    if (medianSecs <= 0 || repSecs.isEmpty) return Nil
    val perRepGcSec = gcMsTotal / 1000.0 / repSecs.size
    val gc = perRepGcSec > 0.5 * medianSecs
    val settle = repSecs.size >= 2 && repSecs.head >= 2.0 * medianSecs &&
      repSecs.tail.max <= 1.5 * medianSecs
    val b = built.nonEmpty
    val disperse = !settle && repSecs.size >= 2 &&
      repSecs.max > 2.0 * math.max(repSecs.min, 0.05)
    Seq(if (gc) Some("gc") else None,
        if (settle) Some("settle") else None,
        if (b) Some("built") else None,
        if (disperse) Some("disperse") else None).flatten
  }

  /** One timed rep's signals. */
  private case class Rep(secs: Double, shuffle: Long, spill: Long, gcMs: Long,
      compiles: Long, built: Seq[String])

  /** One query's row: median secs (-1 when any rep failed), median
    * shuffle/spill bytes, GC ms and compilations summed over the reps,
    * every rep's secs, the index families built, and the canary median in
    * effect when it ran. */
  private case class Row(name: String, secs: Double, shuffle: Long, spill: Long,
      gcMs: Long, compiles: Long, reps: Seq[Double], built: Seq[String], canary: Double) {
    def suspect: Seq[String] = suspectReasons(secs, reps, gcMs, built)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = Harness.select(Harness.onlyEnv)
    val spark = Harness.session(4)

    // Listener delivery is async; deltas are read only after waitQuiesce
    // saw the counters stable, so attribution error is bounded to
    // stragglers of the previous query (none, once stable).
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    def waitQuiesce(): Unit = {
      var prev = -1L
      var cur = shuffleBytes.get + spillBytes.get
      var tries = 0
      while (prev != cur && tries < 20) { // stable snapshot, max ~1s
        Thread.sleep(50); prev = cur; cur = shuffleBytes.get + spillBytes.get
        tries += 1
      }
    }
    def fence(): Unit = { System.gc(); Thread.sleep(100); waitQuiesce() }

    // Warm up session machinery (codegen, parquet reader, shuffle paths)
    // so the first timed query isn't charged for JVM/session init — and
    // never skip it silently: a renamed warmup key would otherwise
    // charge init to whichever query times first.
    SparkEntry.queries.get(CANARY_QUERY).map(CANARY_QUERY -> _).orElse {
      System.err.println(s"BENCH WARN: warmup query $CANARY_QUERY missing; using first registered")
      SparkEntry.queries.headOption
    }.foreach { case (n, fn) => Harness.run(spark, n, fn, sfDir)(Harness.noop) }

    val canaryMedians = scala.collection.mutable.ArrayBuffer.empty[Double]
    def timeCanary(): Unit = SparkEntry.queries.get(CANARY_QUERY).foreach { fn =>
      val reps = (1 to 3).map { _ =>
        fence(); Harness.timedRep(spark, CANARY_QUERY, fn, sfDir)._1
      }.filter(_ >= 0)
      if (reps.nonEmpty) canaryMedians += Harness.median(reps)
    }
    timeCanary()

    // SPARK_GRAFT_DEBUG=1: per-rep GC-time deltas and block-store
    // residue on stderr.
    val debug = sys.env.get("SPARK_GRAFT_DEBUG").contains("1")
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Janino compilations since JVM start, i.e. codegen-cache misses: a
    // query whose reps keep compiling in-suite but not solo is inflated
    // by neighbours' cache evictions, not by its plan.
    def compileN: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    val results = selected.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi > 0 && qi % CANARY_EVERY == 0) timeCanary()
      def oneRep(rep: Int): Rep = {
        fence()
        val sh0 = shuffleBytes.get; val sp0 = spillBytes.get
        val gc0 = gcMs; val cn0 = compileN
        val (secs, built) = Harness.timedRep(spark, name, fn, sfDir)
        val gcD = gcMs - gc0; val cnD = compileN - cn0
        if (debug) System.err.println(
          f"BENCHDBG $name rep$rep ${secs}%.3fs gc=${gcD}ms compiles=$cnD built=${built.mkString("+")}")
        waitQuiesce()
        Rep(secs, shuffleBytes.get - sh0, spillBytes.get - sp0, gcD, cnD, built)
      }
      var runs = (1 to REPS).map(oneRep).toVector
      // Adaptive widening: with median-of-3 ONE outlier rep moves the
      // median to the higher good rep. When the spread exceeds 3× — and
      // no rep built an index or failed — two extra reps make it a
      // median-of-5, which one outlier cannot move. The 0.05 s floor
      // keeps sub-noise-scale rows from re-running pointlessly.
      locally {
        val secs = runs.map(_.secs)
        if (!secs.exists(_ < 0) && runs.forall(_.built.isEmpty) &&
            secs.max > 3 * math.max(secs.min, 0.05))
          runs ++= ((REPS + 1) to (REPS + 2)).map(oneRep)
      }
      // Block-store residue at the query boundary: a growing rdd count or
      // byte total across the suite is the leak-pressure signature.
      if (debug) {
        val info = spark.sparkContext.getRDDStorageInfo
        System.err.println(s"BENCHDBG $name blockstore: rdds=${info.length}" +
          s" mem_mb=${info.map(_.memSize).sum / 1024 / 1024}" +
          s" disk_mb=${info.map(_.diskSize).sum / 1024 / 1024}")
      }
      val repSecs = runs.map(_.secs)
      val builds = runs.flatMap(_.built).distinct
      val canary = canaryMedians.lastOption.getOrElse(-1.0)
      if (repSecs.exists(_ < 0)) Row(name, -1.0, 0L, 0L, 0L, 0L, repSecs, builds, canary)
      else Row(name, Harness.median(repSecs), Harness.median(runs.map(_.shuffle)),
        Harness.median(runs.map(_.spill)), runs.map(_.gcMs).sum, runs.map(_.compiles).sum,
        repSecs, builds, canary)
    }
    timeCanary() // close the window: drift during the suite's tail shows
    val total = results.map(_.secs).filter(_ >= 0).sum
    import Harness.fmt
    // FAILURES first (a crashed query is the line's most important
    // signal — sorted to the tail it would be capped out and the shrunken
    // total would read as a perf win), then slowest first; stop at the
    // first entry that would exceed the cap so the map is a true prefix
    // of that order.
    val sorted = results.sortBy(r => -(if (r.secs < 0) Double.MaxValue else r.secs))
    val failed = results.count(_.secs < 0)
    val sb = new StringBuilder
    var kept = 0
    var full = false
    sorted.foreach { r =>
      val piece = (if (kept > 0) "," else "") + "\"" + r.name + "\":" + fmt(r.secs)
      // The cap keeps the whole line (with the fixed-width keys around
      // the map) inside a 2000-char output tail, so the line head can
      // never be truncated away.
      if (!full && sb.length + piece.length <= 1050) { sb.append(piece); kept += 1 }
      else full = true
    }
    val omitted = results.size - kept
    // the slowest queries' [shuffle_kb, spill_kb] and [gc_ms, compiles]
    val top = sorted.take(10)
    val shuf = top.map(r => "\"" + r.name + "\":[" + r.shuffle / 1024 + "," + r.spill / 1024 + "]").mkString(",")
    val diag = top.map(r => "\"" + r.name + "\":[" + r.gcMs + "," + r.compiles + "]").mkString(",")
    val canarySeq = canaryMedians.toSeq
    val canaryMed = if (canarySeq.isEmpty) -1.0 else Harness.median(canarySeq)
    val hostFactor = canaryRef.get(new java.io.File(sfDir).getName) match {
      case Some(ref) if canaryMed > 0 => canaryMed / ref
      case _ => -1.0
    }
    // Per-rep seconds and build flags live in bench_attr.json only; the
    // stdout line carries just the count of rows that built an index
    // inside a timed rep (0 on a warm at-rest tree).
    val builtCount = sorted.count(_.built.nonEmpty)
    val nSuspect = sorted.count(_.suspect.nonEmpty)
    val sfJ = Harness.esc(sfDir)
    val canaryJ = canarySeq.map(fmt).mkString(",")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$REPS,"queries":{${sb.result()}},"shuffle_kb":{$shuf},"gc_compile":{$diag},"host_factor":${fmt(hostFactor)},"canary_sec":[$canaryJ],"built_in_rep":$builtCount,"suspect":$nSuspect,"failed":$failed,"n_queries":${results.size},"omitted":$omitted,"attr_file":"bench_attr.json","sf":"$sfJ"}"""
    // one array per query, slowest first, in the order of "columns"
    // ("suspect" = suspectReasons joined by "+", "" = clean)
    val attr = sorted.map { r =>
      "\"" + r.name + "\":[" + fmt(r.secs) + "," + r.shuffle / 1024 + "," + r.spill / 1024 + "," +
        r.gcMs + "," + r.compiles + ",[" + r.reps.map(fmt).mkString(",") + "],\"" +
        r.built.mkString("+") + "\"," + fmt(r.canary) + ",\"" + r.suspect.mkString("+") + "\"]"
    }.mkString(",")
    // "reps" is the BASE rep count; rows the adaptive widening re-ran
    // carry 5 entries in reps_sec and are counted in "widened"
    val widened = results.count(_.reps.size > REPS)
    val attrLine = s"""{"total_sec":${fmt(total)},"reps":$REPS,"widened":$widened,"suspect":$nSuspect,"n_queries":${results.size},"sf":"$sfJ","host_factor":${fmt(hostFactor)},"canary_sec":[$canaryJ],"columns":["secs","shuffle_kb","spill_kb","gc_ms","compiles","reps_sec","atrest_built","canary_sec","suspect"],"queries":{$attr}}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_attr.json"),
      (attrLine + "\n").getBytes("UTF-8"))
    catch { case t: Throwable => System.err.println(s"bench_attr.json write failed: $t") }
    // the result line goes out BEFORE session shutdown: a throw or hang
    // in spark.stop() must not discard a fully completed measurement
    println(line)
    System.out.flush()
    spark.stop()
  }
}
