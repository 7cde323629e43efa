package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, max, sum}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{AtRest, CacheTracker, SparkEntry, Tables}
import graft.streaming.{CorrelatorV2, RateLimitStream}
import graft.streaming.Correlator.GwEvent
import graft.streaming.RateLimitStream.ApiCall

/** One benchmark run: one JVM, one `local[n]` session, one client thread.
  *
  * `perfbench/run.py` writes the run's plan (workload, corpus, the run's
  * private temp root, the seeded op schedule) and reads back the result
  * file this writes. Usage: `Runner <plan file> <result file>`.
  *
  * Phases: set-up (session, inputs, the warm-up ops) → the timed pass of
  * fixed work → off-clock checks. A plain run (`trace 0`) installs no
  * listener; a traced run (`trace 1`) installs [[Trace]] and wraps every
  * op in spans.
  */
object Runner {

  /** Key/value plan lines; `warmup`/`pass` lines repeat, in order. */
  final case class Plan(kv: Map[String, String], warmup: Seq[String], pass: Seq[String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"plan has no '$k'"))
  }

  def readPlan(p: Path): Plan = {
    val kv = Map.newBuilder[String, String]
    val warm, pass = Seq.newBuilder[String]
    Files.readAllLines(p, UTF_8).asScala.map(_.trim).filter(_.nonEmpty).foreach { ln =>
      val (k, v) = ln.span(_ != ' ') match { case (a, b) => (a, b.trim) }
      k match {
        case "warmup" => warm += v
        case "pass" => pass += v
        case _ => kv += k -> v
      }
    }
    Plan(kv.result(), warm.result(), pass.result())
  }

  /** Run a fixed single-thread integer loop; its wall time tracks how fast
    * the host gives this process a core, independent of Spark. */
  @volatile private var canarySink = 0L
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    canarySink = x
    (System.nanoTime() - t0) / 1e6
  }

  /** Old-generation occupancy after full collections, in MB. Collections
    * repeat until the figure settles: each one lets Spark's ContextCleaner
    * release what it tracks through weak references, and the next one
    * frees what it released. */
  def liveHeapMb(): Double = {
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala.filter { p =>
      p.getType == java.lang.management.MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured"))
    }
    def used(): Double = {
      System.gc()
      old.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
    }
    var prev = used()
    var cur = prev
    var i = 0
    do { prev = cur; Thread.sleep(300); cur = used(); i += 1 } while (i < 8 && math.abs(prev - cur) > 0.5)
    cur
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  final case class Op(id: String, name: String, phase: String, ms: Double, error: String)

  def main(args: Array[String]): Unit = {
    val plan = readPlan(Paths.get(args(0)))
    val workload = plan("workload")
    val root = plan("root")
    val cores = plan("cores")
    val traced = plan("trace") == "1"

    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false"))
      // every location a run writes sits under its own temp root, so a
      // tree left by one run can never turn the next run's builds into reads
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .config("graft.atrest.dir", s"$root/atrest")
      .config("spark.sql.streaming.checkpointLocation", s"$root/checkpoints")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(Trace.install(spark)) else None

    val ops = ArrayBuffer.empty[Op]
    val extra = ArrayBuffer.empty[(String, String)] // raw JSON fields
    val workloadRun: WorkloadRun =
      if (workload == "gw_stream") new StreamRun(spark, plan, trace)
      else new QueryRun(spark, plan, trace)

    // ---- set-up: inputs, then the warm-up ops (fixed work, untimed) ----
    workloadRun.prepare()
    plan.warmup.zipWithIndex.foreach { case (w, i) => ops += workloadRun.op(w, "warmup", i) }
    val atrestSetup = AtRest.drainBuildEvents().size
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // ---- the timed pass ----
    val canaryBefore = if (traced) Seq(canaryMs(), canaryMs()).min else 0.0
    System.gc()
    trace.foreach(_.beginWindow())
    val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gcMs0 = gcBeans.map(_.getCollectionTime).sum
    val gcN0 = gcBeans.map(_.getCollectionCount).sum
    val cpu0 = processCpuNs()
    val t0 = System.nanoTime()
    plan.pass.zipWithIndex.foreach { case (w, i) => ops += workloadRun.op(w, "pass", i) }
    val passS = (System.nanoTime() - t0) / 1e9
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gcMs0
    val gcN = gcBeans.map(_.getCollectionCount).sum - gcN0
    val atrestPass = AtRest.drainBuildEvents().size
    trace.foreach(_.endWindow())
    val canaryAfter = if (traced) canaryMs() else 0.0

    // ---- off the clock: checks and memory ----
    extra ++= workloadRun.finish()
    val heapMb = liveHeapMb()

    val fields = ArrayBuffer[(String, String)](
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setupS),
      "pass_s" -> Json.num(passS),
      "cpu_s" -> Json.num(cpuS),
      "live_heap_mb" -> Json.num(heapMb),
      "ops" -> ops.map { o =>
        Json.obj("id" -> Json.str(o.id), "name" -> Json.str(o.name), "phase" -> Json.str(o.phase),
          "ms" -> Json.num(o.ms), "error" -> Json.str(o.error))
      }.mkString("[", ",", "]"))
    fields ++= extra
    trace.foreach { t =>
      val counters = t.counters(passS, cores.toInt) ++ Seq(
        "jvm.jit_ms" -> jitMs.toDouble, "jvm.gc_ms" -> gcMs.toDouble, "jvm.gc_count" -> gcN.toDouble,
        "host.canary_ms" -> (canaryBefore + canaryAfter) / 2,
        "atrest.builds_setup" -> atrestSetup.toDouble, "atrest.builds_pass" -> atrestPass.toDouble,
        "atrest.tree_mb" -> dirBytes(Paths.get(root, "atrest")) / 1048576.0,
        "cache.residue_blocks" -> spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum.toDouble)
      fields += "counters" -> Json.obj(counters.map { case (k, v) => k -> Json.num(v) }: _*)
      fields += "spans" -> t.spansJson
    }
    Files.write(Paths.get(args(1)), Json.obj(fields.toSeq: _*).getBytes(UTF_8))
    spark.stop()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  /** A workload: its set-up, one op, and its off-clock output check. */
  trait WorkloadRun {
    def prepare(): Unit
    def op(what: String, phase: String, i: Int): Op
    def finish(): Seq[(String, String)]
  }

  /** Registry queries: build with the query's builder, materialize, then
    * release the query's scope, as `graft.Bench` does. Warm-up ops write
    * their result to parquet for the hash check: the first round checks a
    * query's first call, the second its repeated call (which reads the
    * at-rest tree the first left), the path the pass times. Pass ops
    * materialize into the noop sink. */
  final class QueryRun(spark: SparkSession, plan: Plan, trace: Option[Trace]) extends WorkloadRun {
    private val corpus = plan("corpus")
    private val outDir = s"${plan("root")}/outputs"
    private val workload = plan("workload")

    def prepare(): Unit = ()

    def op(name: String, phase: String, i: Int): Op = {
      val id = s"$workload/$phase/$i"
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      var error = ""
      val root = trace.map(_.open(id, "op", null))
      try {
        val df = Trace.span(trace, "operators.build", root)(fn(spark, corpus))
        Trace.span(trace, "exec.materialize", root) {
          if (phase == "warmup") df.write.parquet(s"$outDir/$id")
          else df.write.format("noop").mode("overwrite").save()
        }
      } catch {
        case t: Throwable => error = s"${t.getClass.getName}: ${t.getMessage}".take(400)
      } finally Trace.span(trace, "cache.release", root)(CacheTracker.releaseQueryScope(spark))
      val ms = (System.nanoTime() - t0) / 1e6
      for (t <- trace; r <- root) t.close(r)
      Op(id, name, phase, ms, error)
    }

    def finish(): Seq[(String, String)] = Seq("outputs" -> Json.str(outDir))
  }

  /** The gateway's `sn` correlator and per-user rate limiter as two
    * streams on the RocksDB state store. Batch `i` is the files
    * `gw_<i>.csv` (sn,kind,ts_ms) and `api_<i>.csv` (user_id,ts_ms), all
    * read during set-up; one op adds one batch to both streams and waits
    * until both have processed everything available. */
  final class StreamRun(spark: SparkSession, plan: Plan, trace: Option[Trace]) extends WorkloadRun {
    import spark.implicits._
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val dir = plan("batches")
    private val workload = plan("workload")
    private val gwIn = MemoryStream[GwEvent]
    private val apiIn = MemoryStream[ApiCall]
    private var queries: Seq[(String, StreamingQuery)] = Nil
    private var batches: Map[String, (Seq[GwEvent], Seq[ApiCall])] = Map.empty

    private def lines(f: String): Seq[Array[String]] =
      Files.readAllLines(Paths.get(dir, f), UTF_8).asScala.iterator
        .filter(_.nonEmpty).map(_.split(',')).toSeq

    def prepare(): Unit = {
      batches = (plan.warmup ++ plan.pass :+ "flush").map { b =>
        b -> (lines(s"gw_$b.csv").map(a => GwEvent(a(0), a(1), new Timestamp(a(2).toLong))),
          lines(s"api_$b.csv").map(a => ApiCall(a(0).toLong, new Timestamp(a(1).toLong))))
      }.toMap
      val corr = CorrelatorV2.correlate(gwIn.toDS(), timeoutMs = 30000L, watermarkDelay = "10 seconds")
        .writeStream.format("memory").queryName("correlator").outputMode("append").start()
      val lim = RateLimitStream.limitStats(apiIn.toDS(), limit = plan("limit").toInt, delay = "2 seconds")
        .writeStream.format("memory").queryName("limiter").outputMode("append").start()
      queries = Seq("correlator" -> corr, "limiter" -> lim)
      trace.foreach(_.watchStreams(queries.map { case (n, q) => q.id.toString -> n }.toMap))
    }

    def op(b: String, phase: String, i: Int): Op = {
      val id = s"$workload/$phase/$i"
      val (gw, api) = batches(b)
      val t0 = System.nanoTime()
      var error = ""
      val root = trace.map(_.open(id, "op", null))
      try {
        Trace.span(trace, "streaming.add_data", root) { gwIn.addData(gw); apiIn.addData(api) }
        queries.foreach { case (n, q) =>
          Trace.span(trace, s"streaming.process.$n", root)(q.processAllAvailable())
        }
      } catch {
        case t: Throwable => error = s"${t.getClass.getName}: ${t.getMessage}".take(400)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      for (t <- trace; r <- root) t.close(r)
      Op(id, b, phase, ms, error)
    }

    /** Flush with an event far past every batch so every timer fires and
      * every call finalizes, then count what the two sinks hold. */
    def finish(): Seq[(String, String)] = {
      val (gw, api) = batches("flush")
      gwIn.addData(gw); apiIn.addData(api)
      queries.foreach(_._2.processAllAvailable())
      val flushSn = gw.map(_.sn).toSet
      val flushUser = api.map(_.user_id).toSet
      val outcomes = spark.table("correlator").filter(!col("sn").isin(flushSn.toSeq: _*))
        .groupBy("outcome").agg(count(lit(1)), sum("latency_ms")).collect()
        .map(r => r.getString(0) -> Json.arr(Seq(Json.num(r.getLong(1).toDouble), Json.num(r.getLong(2).toDouble))))
      val perUser = spark.table("limiter").filter(!col("user_id").isin(flushUser.toSeq: _*))
        .groupBy("user_id").agg(max("n_events").as("n"), max("max_calls_1s").as("m"),
          max("n_denied_1s").as("d"))
      val lim = perUser.agg(sum("n"), max("m"), sum("d"), sum(col("d") * col("user_id"))).collect().head
      queries.foreach(_._2.stop())
      def l(i: Int): String = Json.num(if (lim.isNullAt(i)) 0.0 else lim.getLong(i).toDouble)
      Seq("stream" -> Json.obj(
        "correlator" -> Json.obj(outcomes.toSeq: _*),
        "limiter" -> Json.obj("n_events" -> l(0), "max_calls_1s" -> l(1), "n_denied" -> l(2),
          "denied_user_sum" -> l(3))))
    }
  }
}

/** Hand-rolled JSON writer: the result file holds only strings, numbers,
  * arrays and objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
