package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchListenerBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counters of a traced run, kept in memory and
  * written once at the end. Everything is observed from outside the
  * engine: spans wrap the benchmark's own calls into public functions,
  * Spark jobs become child spans (attributed by the job tag set around
  * each span, or for streams by query id and time), and the counters come
  * from Spark's listener interfaces. Counters count only inside the
  * window [[beginWindow]]..[[endWindow]], which brackets the timed pass.
  */
final class Trace private (val spark: SparkSession) {
  import Trace._

  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  /** Epoch-based nanoseconds, comparable with listener event times. */
  def nowNs(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  private val spans = ArrayBuffer.empty[Span]
  private val openSpans = new ConcurrentHashMap[String, Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val c = new ConcurrentHashMap[String, DoubleAdder]()
  @volatile private var inWindow = false
  @volatile private var windowStartNs = Long.MaxValue
  private var streamNames: Map[String, String] = Map.empty
  private val lastState = new ConcurrentHashMap[String, (Double, Double)]()
  private var compiles0 = 0L

  private def add(k: String, v: Double): Unit =
    if (inWindow) c.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  def open(id: String, name: String, parent: String): String = {
    openSpans.put(id, Span(id, parent, name, nowNs(), 0L))
    id
  }

  def close(id: String): Unit = {
    val s = openSpans.remove(id)
    if (s != null && s.startNs >= windowStartNs) spans.synchronized(spans += s.copy(endNs = nowNs()))
  }

  def watchStreams(idToName: Map[String, String]): Unit = streamNames = idToName

  def beginWindow(): Unit = {
    BenchListenerBus.drain(spark.sparkContext)
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    windowStartNs = nowNs()
    inWindow = true
  }

  def endWindow(): Unit = {
    BenchListenerBus.drain(spark.sparkContext)
    inWindow = false
    val compileHist = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = compileHist.getCount - compiles0
    add0("codegen.compiles", n.toDouble)
    // the histogram keeps a sample, not a sum: mean × count is an estimate
    add0("codegen.compile_ms", n * compileHist.getSnapshot.getMean)
    lastState.values.asScala.foreach { case (rows, mem) =>
      add0("state.rows_total", rows); add0("state.memory_mb", mem / 1048576.0)
    }
    // jobs become child spans of the span that caused them
    val byId = spans.map(s => s.id -> s).toMap
    jobs.values.asScala.filter(j => j.startNs >= windowStartNs && j.endNs > 0).foreach { j =>
      val parent = j.tags.find(t => t.startsWith(TagPrefix) && byId.contains(t.drop(TagPrefix.length)))
        .map(_.drop(TagPrefix.length))
        .orElse(j.stream.flatMap { q =>
          def covering(name: String => Boolean) =
            spans.find(s => name(s.name) && s.startNs <= j.startNs && j.startNs <= s.endNs)
          covering(_ == s"streaming.process.$q").orElse(covering(_ == "op")).map(_.id)
        }).orNull
      spans += Span(s"job-${j.id}", parent, "spark.job", j.startNs, j.endNs)
      if (parent != null && byId.get(parent).exists(_.name == "operators.build"))
        add0("operators.build_jobs", 1)
    }
  }

  private def add0(k: String, v: Double): Unit = c.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  def counters(passS: Double, cores: Int): Seq[(String, Double)] = {
    def g(k: String) = Option(c.get(k)).map(_.sum).getOrElse(0.0)
    val base = CounterNames.map(k => k -> g(k))
    base ++ Seq(
      "exec.task_wait_ms" -> (g("exec.task_run_ms") - g("exec.task_cpu_ms")),
      "exec.slot_busy_share" -> g("exec.task_run_ms") / (passS * 1000.0 * cores),
      "plans.rule_effective_ratio" ->
        (if (g("plans.rule_invocations") > 0) g("plans.rule_effective") / g("plans.rule_invocations") else 0.0))
  }

  def spansJson: String = spans.map { s =>
    Json.arr(Seq(Json.str(s.id), if (s.parent == null) "null" else Json.str(s.parent), Json.str(s.name),
      Json.num((s.startNs - windowStartNs) / 1e6), Json.num((s.endNs - windowStartNs) / 1e6)))
  }.mkString("[", ",", "]")

  private object SparkSide extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(',').toSeq).getOrElse(Nil)
      val stream = props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).flatMap(streamNames.get)
      val last = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, tags, stream, last.startsWith("parquet at Tables.scala"),
        e.time * 1000000L, 0L))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) {
        jobs.put(e.jobId, j.copy(endNs = e.time * 1000000L))
        if (j.infer) { add("tables.infer_jobs", 1); add("tables.infer_ms", (e.time - j.startNs / 1000000L).toDouble) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime.toDouble)
        add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.task_gc_ms", m.jvmGCTime.toDouble)
        add("exec.shuffle_write_kb", m.shuffleWriteMetrics.bytesWritten / 1024.0)
        add("exec.shuffle_read_kb", m.shuffleReadMetrics.totalBytesRead / 1024.0)
        add("exec.spill_kb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1024.0)
      }
    }
  }

  private object SqlSide extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      ph.get("optimization").foreach(p => add("catalyst.optimization_ms", p.durationMs.toDouble))
      ph.get("planning").foreach(p => add("catalyst.planning_ms", p.durationMs.toDouble))
      qe.tracker.rules.foreach { case (rule, s) =>
        if (rule.startsWith("graft.")) {
          add("plans.rule_ms", s.totalTimeNs / 1e6)
          add("plans.rule_invocations", s.numInvocations.toDouble)
          add("plans.rule_effective", s.numEffectiveInvocations.toDouble)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object StreamSide extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.batches", 1)
      val d = p.durationMs.asScala
      Seq("addBatch" -> "streaming.add_batch_ms", "walCommit" -> "streaming.wal_commit_ms",
        "commitOffsets" -> "streaming.commit_offsets_ms", "queryPlanning" -> "streaming.query_planning_ms")
        .foreach { case (k, name) => d.get(k).foreach(v => add(name, v.doubleValue)) }
      if (inWindow) lastState.put(p.id.toString, (p.stateOperators.map(_.numRowsTotal).sum.toDouble,
        p.stateOperators.map(_.memoryUsedBytes).sum.toDouble))
      p.stateOperators.foreach { s =>
        add("state.commit_ms", s.commitTimeMs.toDouble)
        add("state.rows_dropped_by_watermark", s.numRowsDroppedByWatermark.toDouble)
        val cm = s.customMetrics.asScala
        cm.get("rocksdbCommitFileSyncLatencyMs").foreach(v => add("state.file_sync_ms", v.doubleValue))
        cm.get("rocksdbCommitSnapshotLatencyMs").foreach(v => add("state.snapshot_zip_ms", v.doubleValue))
        cm.get("numExpiredTimers").foreach(v => add("state.timers_expired", v.doubleValue))
      }
    }
  }
}

object Trace {
  final case class Span(id: String, parent: String, name: String, startNs: Long, endNs: Long)
  final case class Job(id: Int, tags: Seq[String], stream: Option[String], infer: Boolean,
      startNs: Long, endNs: Long)

  val TagPrefix = "pb:"

  /** Counters reported even when a workload never touches their layer. */
  val CounterNames: Seq[String] = Seq(
    "tables.infer_jobs", "tables.infer_ms", "operators.build_jobs",
    "catalyst.optimization_ms", "catalyst.planning_ms", "plans.rule_ms",
    "codegen.compiles", "codegen.compile_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.task_gc_ms", "exec.shuffle_write_kb", "exec.shuffle_read_kb", "exec.spill_kb",
    "exec.failed_tasks",
    "streaming.batches", "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.query_planning_ms",
    "state.rows_total", "state.memory_mb", "state.commit_ms", "state.file_sync_ms",
    "state.snapshot_zip_ms", "state.timers_expired", "state.rows_dropped_by_watermark")

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t.SparkSide)
    spark.listenerManager.register(t.SqlSide)
    spark.streams.addListener(t.StreamSide)
    t
  }

  /** Run `body` inside a child span of `parent`, tagging the Spark jobs it
    * starts with the span's id. Without a trace it only runs `body`. */
  def span[T](trace: Option[Trace], name: String, parent: Option[String])(body: => T): T =
    (trace, parent) match {
      case (Some(t), Some(p)) =>
        val id = t.open(s"$p/$name", name, p)
        val sc = t.spark.sparkContext
        sc.addJobTag(TagPrefix + id)
        try body finally { sc.removeJobTag(TagPrefix + id); t.close(id) }
      case _ => body
    }
}
