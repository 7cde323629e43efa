package graft

import java.sql.Timestamp

import graft.streaming.{Correlator, CorrelatorV2}
import graft.streaming.Correlator.GwEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The sn correlator ([[CorrelatorV2]], transformWithState on the RocksDB
  * state store) driven through MemoryStream: matched / unmatched /
  * timeout paths, the watermark boundary, checkpointed restart, sn reuse
  * and within-batch ordering; plus the temporal joins on the same
  * session setup. */
class CorrelatorV2Spec extends AnyFunSuite {

  // Reuse the JVM-wide session; the state-store provider is a session
  // conf that only needs to be set before the streaming query STARTS
  // (a builder conf would be silently dropped if another suite created
  // the session first — getOrCreate returns the existing one).
  lazy val spark: SparkSession = {
    val s = SparkSpec.session
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  private def ts(sec: Int): Timestamp = new Timestamp(1700000000000L + sec * 1000L)

  test("transformWithState correlator: matched, unmatched, and timer-expired paths") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[GwEvent]
    val q = CorrelatorV2.correlate(in.toDS(), timeoutMs = 30000L, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("corrv2").outputMode("append").start()
    try {
      in.addData(
        GwEvent("a", "request", ts(0)), GwEvent("b", "request", ts(1)),
        GwEvent("a", "response", ts(2)), GwEvent("orphan", "response", ts(3)))
      q.processAllAvailable()
      in.addData(GwEvent("b", "response", ts(5)))
      q.processAllAvailable()
      // advance watermark far enough to expire nothing-matched "lost"
      in.addData(GwEvent("lost", "request", ts(10)))
      q.processAllAvailable()
      in.addData(GwEvent("flush", "request", ts(120)))
      q.processAllAvailable()
      val rows = spark.table("corrv2").as[Correlator.Correlated].collect()
        .map(c => c.sn -> (c.outcome, c.latency_ms)).toMap
      assert(rows("a") == ("matched", 2000L))
      assert(rows("b") == ("matched", 4000L))
      assert(rows("orphan") == ("unmatched_response", -1L))
      assert(rows.get("lost").map(_._1).contains("timeout"))
      assert(!rows.contains("flush"))
    } finally q.stop()
  }

  test("correlator emits timeout dead-letters once the event-time timer expires") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[GwEvent]
    val q = CorrelatorV2.correlate(in.toDS(), timeoutMs = 30000L, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("corrv2timeout").outputMode("append").start()
    try {
      in.addData(GwEvent("lost", "request", ts(0)))
      q.processAllAvailable()
      // advance watermark past ts(0) + 30 s timeout + 5 s delay
      in.addData(GwEvent("later", "request", ts(60)))
      q.processAllAvailable()
      in.addData(GwEvent("later2", "request", ts(120)))
      q.processAllAvailable()
      val rows = spark.table("corrv2timeout").as[Correlator.Correlated].collect()
        .map(c => c.sn -> c.outcome).toMap
      assert(rows.get("lost").contains("timeout"))
      // "later" (req at 60s, timer 90s) also expires once "later2" pushes
      // the watermark to 115s; "later2" (timer 150s) is still in flight
      assert(rows.get("later").contains("timeout"))
      assert(!rows.contains("later2"))
    } finally q.stop()
  }

  test("correlator state survives a checkpointed restart (in-flight request + its timer recovered)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_corr_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_corr_out").toString
    val in = MemoryStream[GwEvent]
    def start() = CorrelatorV2.correlate(in.toDS(), timeoutMs = 30000L, watermarkDelay = "5 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    // two in-flight requests — registration (ValueState) and the 30 s
    // timeout timers live only in state at shutdown
    in.addData(GwEvent("a", "request", ts(0)), GwEvent("lost", "request", ts(1)))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      // after restart: the response must match the RECOVERED in-flight
      // request (latency from the recovered registration ts), and the
      // RECOVERED timer must fire "lost"'s timeout as the watermark
      // passes it — both paths prove full state+timer recovery
      in.addData(GwEvent("a", "response", ts(2)), GwEvent("flush", "request", ts(120)))
      q2.processAllAvailable()
      val rows = spark.read.parquet(out).as[Correlator.Correlated].collect()
        .map(c => c.sn -> (c.outcome, c.latency_ms)).toMap
      assert(rows.get("a").contains(("matched", 2000L)),
        s"recovered in-flight request must match: $rows")
      assert(rows.get("lost").map(_._1).contains("timeout"),
        s"recovered timer must fire the timeout: $rows")
      assert(!rows.contains("flush"))
    } finally q2.stop()
  }

  test("sn reuse after a match: the first request's timer must not clobber the second") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[GwEvent]
    val q = CorrelatorV2.correlate(in.toDS(), timeoutMs = 30000L, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("corrv2reuse").outputMode("append").start()
    try {
      // request + response for sn "r" at t=0/2; a matched pair
      in.addData(GwEvent("r", "request", ts(0)), GwEvent("r", "response", ts(2)))
      q.processAllAvailable()
      // the SAME sn is reused at t=40 — after the first request's (now
      // deleted) timer would have fired at t=30
      in.addData(GwEvent("r", "request", ts(40)))
      q.processAllAvailable()
      // advance the watermark past t=30+delay but before 40+30 timeout:
      // with the round-1 bug the stale timer fires here, emits a
      // spurious timeout, and clears the live request's state
      in.addData(GwEvent("wm", "request", ts(60)))
      q.processAllAvailable()
      // the reused sn's response arrives at t=45 event time (late but
      // within the watermark? no — use t=61 to stay above watermark)
      in.addData(GwEvent("r", "response", ts(61)))
      q.processAllAvailable()
      in.addData(GwEvent("flush", "request", ts(300)))
      q.processAllAvailable()
      val rRows = spark.table("corrv2reuse").as[Correlator.Correlated].collect()
        .filter(_.sn == "r").map(c => (c.outcome, c.latency_ms)).sorted
      // exactly two matches, no timeout, no unmatched_response
      assert(rRows.toSeq == Seq(("matched", 2000L), ("matched", 21000L)),
        s"got ${rRows.toSeq}")
    } finally q.stop()
  }

  test("same-batch response + reused-sn request pair in event-time order, not kind-major") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[GwEvent]
    val q = CorrelatorV2.correlate(in.toDS(), timeoutMs = 30000L, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("corrv2batchorder").outputMode("append").start()
    try {
      // a standing in-flight request from an earlier batch...
      in.addData(GwEvent("s", "request", ts(0)))
      q.processAllAvailable()
      // ...then ONE batch carrying its response (t=2) AND a reused-sn
      // request (t=5). A kind-major within-batch sort would process the
      // t=5 request first: the response then "matches" it with latency
      // 2000-5000 = -3000, the t=0 request never resolves, and the t=5
      // request's state is consumed so IT can never match or time out.
      // Event-time order pairs the response with the STANDING request
      // (+2000) and leaves the new request in flight.
      in.addData(GwEvent("s", "response", ts(2)), GwEvent("s", "request", ts(5)))
      q.processAllAvailable()
      // the reused request must still be live: its response matches
      in.addData(GwEvent("s", "response", ts(8)))
      q.processAllAvailable()
      in.addData(GwEvent("flush", "request", ts(300)))
      q.processAllAvailable()
      val rows = spark.table("corrv2batchorder").as[Correlator.Correlated].collect()
        .filter(_.sn == "s").map(c => (c.outcome, c.latency_ms)).sorted
      assert(rows.toSeq == Seq(("matched", 2000L), ("matched", 3000L)),
        s"event-time pairing must yield the two real matches: ${rows.toSeq}")
    } finally q.stop()
  }

  test("temporal enrich join: events pick the latest dim version at-or-before their time") {
    import graft.streaming.TemporalJoin
    import graft.streaming.TemporalJoin.In
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[In]
    val q = TemporalJoin.enrich(in.toDS())
      .writeStream.format("memory").queryName("temporal1").outputMode("append").start()
    try {
      // batch 1: v1 at t0, v2 at t10; events at t5 (→v1) and t15 (→v2);
      // an event for an unknown key (→null); a same-timestamp pair where
      // the dim must win ordering (event at t10 sees v2)
      in.addData(
        In("a", "dim", ts(0), "v1"), In("a", "dim", ts(10), "v2"),
        In("a", "event", ts(5), null), In("a", "event", ts(15), null),
        In("a", "event", ts(10), null),
        In("ghost", "event", ts(7), null))
      q.processAllAvailable()
      // batch 2: a third version, then events straddling it — state
      // carried the history across batches
      in.addData(In("a", "dim", ts(20), "v3"),
        In("a", "event", ts(18), null), In("a", "event", ts(25), null))
      q.processAllAvailable()
      val rows = spark.table("temporal1").as[TemporalJoin.Enriched].collect()
        .map(e => (e.key, e.ts.getTime) -> (e.value, e.matched)).toMap
      assert(rows(("a", ts(5).getTime)) == ("v1", true))
      assert(rows(("a", ts(10).getTime)) == ("v2", true))
      assert(rows(("a", ts(15).getTime)) == ("v2", true))
      assert(rows(("a", ts(18).getTime)) == ("v2", true))
      assert(rows(("a", ts(25).getTime)) == ("v3", true))
      assert(rows(("ghost", ts(7).getTime)) == (null, false))
    } finally q.stop()
  }

  test("temporal-join version history survives a checkpointed restart") {
    import graft.streaming.TemporalJoin
    import graft.streaming.TemporalJoin.In
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tmp_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_tmp_out").toString
    val in = MemoryStream[In]
    def start() = TemporalJoin.enrich(in.toDS())
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    // two dimension versions — the ListState history is the only place
    // they live at shutdown
    in.addData(In("k", "dim", ts(10), "v1"), In("k", "dim", ts(20), "v2"))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      // post-restart events must enrich from the RECOVERED history:
      // t=15 resolves to v1 (needs the superseded version, not just the
      // latest), t=25 to v2
      in.addData(In("k", "event", ts(15), null), In("k", "event", ts(25), null))
      q2.processAllAvailable()
      val rows = spark.read.parquet(out).as[TemporalJoin.Enriched].collect()
        .map(e => e.ts.getTime -> (e.value, e.matched)).toMap
      assert(rows(ts(15).getTime) == ("v1", true), rows.toString)
      assert(rows(ts(25).getTime) == ("v2", true), rows.toString)
    } finally q2.stop()
  }

  test("event-time temporal join applies a late-ARRIVING dim retroactively (watermark-correct)") {
    import graft.streaming.TemporalJoin
    import graft.streaming.TemporalJoin.In
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[In]
    val q = TemporalJoin.enrichEventTime(in.toDS(), watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("temporal2").outputMode("append").start()
    try {
      // the event arrives FIRST; its matching dim arrives in a later
      // micro-batch but with an EARLIER version-time. The watermark
      // (10 s delay) has not passed t=10 yet, so the event is buffered.
      in.addData(In("a", "event", ts(10), null))
      q.processAllAvailable()
      in.addData(In("a", "dim", ts(5), "v_late_arrival"), In("ghost", "event", ts(12), null))
      q.processAllAvailable()
      // advance the watermark past t=12 → both buffered events resolve:
      // "a" retroactively matches the late-arriving dim, "ghost" has no
      // version and emits the left-outer null
      in.addData(In("wm", "event", ts(40), null))
      q.processAllAvailable()
      in.addData(In("wm2", "event", ts(80), null))
      q.processAllAvailable()
      val rows = spark.table("temporal2").as[TemporalJoin.Enriched].collect()
        .map(e => (e.key, e.ts.getTime) -> (e.value, e.matched)).toMap
      assert(rows(("a", ts(10).getTime)) == ("v_late_arrival", true),
        s"late-arriving dim not applied retroactively: $rows")
      assert(rows(("ghost", ts(12).getTime)) == (null, false))
    } finally q.stop()
  }

  test("event-time temporal join == batch as-of join on randomized data in random arrival order") {
    import graft.streaming.TemporalJoin
    import graft.streaming.TemporalJoin.In
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    // unique (key, version-time) pairs so tie-breaks can't diverge
    val dims = rnd.shuffle((0 until 120).toList).take(80).map { i =>
      In(s"k${i % 10}", "dim", ts(i), s"v$i")
    }
    val events = (0 until 150).map { i =>
      In(s"k${rnd.nextInt(12)}", "event", ts(rnd.nextInt(130)), null)
    }.distinct
    // ARRIVAL order is random and split across micro-batches — the
    // event-time variant must be insensitive to it (within watermark)
    val all = rnd.shuffle(dims ++ events)
    val batches = all.grouped(all.size / 3 + 1).toSeq
    val in = MemoryStream[In]
    val q = TemporalJoin.enrichEventTime(in.toDS(), watermarkDelay = "1000 seconds")
      .writeStream.format("memory").queryName("temporal3").outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      // flush: advance the watermark far past every buffered event
      in.addData(In("flush", "event", ts(100000), null))
      q.processAllAvailable()
      val streamed = spark.table("temporal3").as[TemporalJoin.Enriched].collect()
        .filter(_.key != "flush")
        .map(e => (e.key, e.ts.getTime, e.value)).sortBy(_.toString)
      // batch reference: composed as-of (latest dim at-or-before) on the same data
      val dimDf = dims.map(d => (d.key, d.ts.getTime, d.value)).toDF("dk", "vt", "v")
      val evDf = events.map(e => (e.key, e.ts.getTime)).distinct.toDF("key", "t")
      val w = Window.partitionBy("key", "t").orderBy(desc_nulls_last("vt"))
      val expected = evDf.join(dimDf, col("key") === col("dk") && col("vt") <= col("t"), "left")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("key", "t", "v").as[(String, Long, String)].collect().sortBy(_.toString)
      assert(streamed.length == expected.length,
        s"row counts differ: streamed ${streamed.length} vs batch ${expected.length}")
      streamed.zip(expected).foreach { case (s, e) => assert(s == e, s"$s != $e") }
    } finally q.stop()
  }
}
