package graft

import java.sql.Timestamp

import graft.streaming.SessionStream
import graft.streaming.SessionStream.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming sessionizer must emit exactly the batch lag-gap
  * sessions — including when a late-arriving middle event BRIDGES two
  * event runs that a naive arrival-order sessionizer would have split
  * into separate sessions (the watermark-finalization contract).
  */
class SessionStreamSpec extends SparkSpec {

  private val base = 1700000000000L
  private def ts(minutes: Long): Timestamp = new Timestamp(base + minutes * 60000L)

  private type Row6 = (Long, Long, Long, Long, Long, Long)

  private def gotSessions(table: String): Set[Row6] = {
    import spark.implicits._
    spark.table(table).as[Session].collect()
      .map(s => (s.user_id, s.session_idx, s.n_events, s.start_s, s.end_s, s.duration_s)).toSet
  }

  /** The batch sessionization over the same (finalized) events. */
  private def batchSessions(evs: Seq[Ev]): Set[Row6] = {
    import spark.implicits._
    operators.EventWindows.sessionsFrom(evs.toDF()).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_s"), r.getAs[Long]("end_s"),
        r.getAs[Long]("duration_s"))).toSet
  }

  test("session state survives a checkpointed restart (open session, pending buffer, index counter)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sess_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sess_out").toString
    val in = MemoryStream[Ev]
    def start() = SessionStream.sessions(in.toDS(), delay = "25 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    // wm reaches minute 25: events 0,10 finalize into the OPEN session
    // (which cannot close yet — the gap horizon is minute 40); the
    // event at 50 stays pending. Open-session accumulator, pending
    // buffer, and the session-index counter now live only in state.
    val b1 = Seq(Ev(1L, ts(0), 1L), Ev(1L, ts(10), 2L), Ev(1L, ts(50), 3L))
    in.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      // after restart: 55 joins the recovered pending 50 (same run),
      // and the advancer pushes the watermark past every horizon — the
      // recovered open session {0,10} must close as index 1 and the
      // recovered-pending run {50,55} as index 2, exactly the batch form
      val tail = Seq(Ev(1L, ts(55), 4L))
      in.addData(tail :+ Ev(9L, ts(5000), 99L): _*)
      q2.processAllAvailable()
      val got = spark.read.parquet(out).as[Session].collect()
        .map(s => (s.user_id, s.session_idx, s.n_events, s.start_s, s.end_s, s.duration_s)).toSet
      // the advancer's own event never finalizes (wm never passes it)
      assert(got == batchSessions(b1 ++ tail),
        s"recovered sessions wrong: $got")
      assert(got.exists(_._2 == 2L), "session index counter must survive the restart")
    } finally q2.stop()
  }

  test("late middle event bridges two runs into one session; equals the batch form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = SessionStream.sessions(in.toDS(), delay = "25 minutes")
      .writeStream.format("memory").queryName("sess1").outputMode("append").start()
    try {
      // user 1: events at 0 and 40 min — 40 min apart, two sessions if
      // nothing lands between them
      val b1 = Seq(Ev(1L, ts(0), 1L), Ev(1L, ts(40), 2L))
      in.addData(b1: _*)
      q.processAllAvailable()
      assert(gotSessions("sess1").isEmpty,
        "nothing may close while the bridging window is still open")
      // the 20-min event arrives late (within the 25-min horizon) and
      // bridges 0 -> 20 -> 40 into ONE session
      val late = Seq(Ev(1L, ts(20), 3L))
      in.addData(late: _*)
      q.processAllAvailable()
      // advancer: watermark far past 40 min + gap; user 9 itself stays open
      in.addData(Ev(9L, ts(100000), 99L))
      q.processAllAvailable()
      val got = gotSessions("sess1")
      assert(got == batchSessions(b1 ++ late))
      assert(got == Set((1L, 1L, 3L, base / 1000, base / 1000 + 2400, 2400L)),
        "one bridged session of three events spanning 40 minutes")
    } finally q.stop()
  }

  test("randomized out-of-order feed matches the batch sessionization exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 4 users, 300 events over 30 hours: long gaps occur naturally, so
    // every user accumulates several sessions of several events
    val evs = (0 until 300).map(i =>
      Ev(1L + rnd.nextInt(4), ts(rnd.nextInt(1800).toLong), 1000L + i))
    val in = MemoryStream[Ev]
    val q = SessionStream.sessions(in.toDS(), delay = "10 minutes")
      .writeStream.format("memory").queryName("sess2").outputMode("append").start()
    try {
      // watermark contract: batches ascend in event time, arrival order
      // within a batch is arbitrary (unordered up to the 10 min horizon)
      evs.sortBy(_.ts.getTime).grouped(30).foreach { b =>
        in.addData(rnd.shuffle(b): _*); q.processAllAvailable()
      }
      in.addData(Ev(9L, ts(1000000), 9999L)) // close every session via timers
      q.processAllAvailable()
      val got = gotSessions("sess2")
      assert(got == batchSessions(evs))
      assert(got.map(_._1) == Set(1L, 2L, 3L, 4L))
      assert(got.exists(_._3 > 1), "some session must contain multiple events")
    } finally q.stop()
  }
}
