package graft

import java.sql.Timestamp

import graft.streaming.RateLimitStream
import graft.streaming.RateLimitStream.{ApiCall, LimitStats}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming rate limiter (transformWithState watermark-finalized
  * trailing-window counts) checked against the batch G6 window query —
  * including a late earlier call that retroactively pushes an
  * already-seen call over the limit, the case an admit-at-arrival
  * limiter gets wrong. */
class RateLimitStreamSpec extends SparkSpec {

  private val base = 1700000000000L
  private def ts(ms: Long): Timestamp = new Timestamp(base + ms)

  /** Final per-user stats: max per column over the change-driven
    * snapshots (all three columns are monotone non-decreasing). */
  private def finalStats(table: String): Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    spark.table(table).as[LimitStats].collect()
      .groupBy(_.user_id)
      .map { case (u, rs) =>
        u -> ((rs.map(_.n_events).max, rs.map(_.max_calls_1s).max, rs.map(_.n_denied_1s).max))
      }
  }

  /** The batch G6 window query on the same calls (1h column dropped). */
  private def batchTwin(calls: Seq[ApiCall]): Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    operators.Gateway.rateLimitStats(calls.toDF())
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  test("streaming limiter: late earlier call retroactively denies; equals the batch window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[ApiCall]
    val q = RateLimitStream.limitStats(in.toDS(), limit = 10, delay = "2 seconds")
      .writeStream.format("memory").queryName("ratelimit1").outputMode("append").start()
    try {
      // user 1: 11 calls inside one second — the 11th must be denied
      val u1 = (0 until 11).map(i => ApiCall(1L, ts(1000 + 10 * i)))
      // user 2: exactly 10 calls in [1000, 1900] — legal... until batch 2
      val u2 = (0 until 10).map(i => ApiCall(2L, ts(1000 + 100 * i)))
      // user 3: sparse, never near the limit
      val u3 = Seq(ApiCall(3L, ts(100)), ApiCall(3L, ts(2300)))
      val b1 = u1 ++ u2 ++ u3
      in.addData(b1: _*)
      q.processAllAvailable()
      // batch 2: user 2's LATE call at 950 (within the 2 s horizon of
      // wm = 2300 − 2000) lands inside the trailing windows of its
      // calls in [1000, 1900] — the call at 1900 now counts 11 and is
      // retroactively denied
      val late = Seq(ApiCall(2L, ts(950)))
      in.addData(late: _*)
      q.processAllAvailable()
      // advancer: watermark passes every buffered call; users 1–3 are
      // finalized by their event-time TIMERS (no new rows for them)
      val adv = Seq(ApiCall(9L, ts(500000)))
      in.addData(adv: _*)
      q.processAllAvailable()

      val got = finalStats("ratelimit1")
      // the advancer's own call is never finalized (the watermark never
      // passes it) — the batch twin covers the finalized population
      val want = batchTwin(b1 ++ late)
      assert(got == want)
      assert(got(1L)._3 >= 1, "user 1's 11th call in one second must be denied")
      assert(got(2L)._3 >= 1, "user 2's late call must retroactively deny the call at 1900")
      assert(got(3L)._3 == 0)
    } finally q.stop()
  }

  test("limiter state survives a checkpointed restart (band, pending, aggregates recovered)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rl_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_rl_out").toString
    val in = MemoryStream[ApiCall]
    def start() = RateLimitStream.limitStats(in.toDS(), limit = 10, delay = "2 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    // wm reaches 1500: the ten calls at 100..1000 FINALIZE (n=10,
    // max=10 — exactly the limit, zero denials) and the trailing-second
    // ones (500..1000) move into the retained band; 3500 stays pending.
    // Band, pending, and the finalized aggregates now live only in
    // state.
    val b1 = (1 to 10).map(i => ApiCall(1L, ts(100L * i))) :+ ApiCall(1L, ts(3500))
    in.addData(b1: _*)
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      // the burst at 1510..1560 (strictly above the recovered wm=1500 —
      // a row AT the watermark is dropped as late) is deniable ONLY
      // through the RECOVERED band: the window of the call at 1560
      // counts the five recovered band calls 600..1000 plus the six new
      // ones (c=11 > 10) — if the band were lost it would count 6 and
      // never deny; 3500 must still finalize (recovered pending)
      val b2 = (1 to 6).map(i => ApiCall(1L, ts(1500L + 10 * i)))
      in.addData(b2 :+ ApiCall(9L, ts(500000)): _*)
      q2.processAllAvailable()
      val got = spark.read.parquet(out).as[LimitStats].collect()
        .groupBy(_.user_id)
        .map { case (u, rs) =>
          u -> ((rs.map(_.n_events).max, rs.map(_.max_calls_1s).max, rs.map(_.n_denied_1s).max))
        }
      val want = batchTwin(b1 ++ b2) // advancer never finalized
      assert(got == want, s"recovered limiter stats wrong: $got vs $want")
      assert(got(1L) == (17L, 11L, 1L),
        "the burst must see the recovered trailing band (c=11) and the denial must land")
    } finally q2.stop()
  }

  test("streaming limiter matches the batch window on a randomized out-of-order feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 300 calls / 3 users / 5 s ≈ 20 calls/s/user — dense enough that
    // denials and max windows well above the limit both occur
    val calls = Seq.fill(300)(ApiCall(1L + rnd.nextInt(3), ts(rnd.nextInt(5000).toLong)))
    // watermark contract: batches ascend in event time (each batch's min
    // is ≥ every earlier batch's max − 2 s), arrival order WITHIN a
    // batch is arbitrary — so rows are unordered exactly up to the
    // modeled reprocessing horizon
    val batches = calls.sortBy(c => c.ts.getTime).grouped(30)
      .map(b => rnd.shuffle(b)).toSeq
    val in = MemoryStream[ApiCall]
    val q = RateLimitStream.limitStats(in.toDS(), limit = 10, delay = "2 seconds")
      .writeStream.format("memory").queryName("ratelimit2").outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val adv = Seq(ApiCall(9L, ts(500000)))
      in.addData(adv: _*)
      q.processAllAvailable()
      val got = finalStats("ratelimit2")
      val want = batchTwin(calls) // advancer never finalized, as above
      assert(got == want)
      assert(want.exists(_._2._3 > 0), "feed should contain denials")
    } finally q.stop()
  }
}
