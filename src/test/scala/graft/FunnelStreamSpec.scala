package graft

import java.sql.Timestamp

import graft.streaming.FunnelStream
import graft.streaming.FunnelStream.{FunnelEvent, FunnelReach, Unreached}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming funnel (transformWithState per-user min-state) checked
  * against the batch conditional-min cascade — including retroactive
  * eligibility from out-of-order arrivals, which is the case a naive
  * "keep the running mins" state gets wrong. */
class FunnelStreamSpec extends SparkSpec {

  private def ts(sec: Int): Timestamp = new Timestamp(1700000000000L + sec * 1000L)

  /** Final cascade per user: min per column over the change-driven
    * snapshots (columns are monotone non-increasing by construction). */
  private def finalReach(table: String): Map[Long, (Long, Long, Long)] = {
    import spark.implicits._
    spark.table(table).as[FunnelReach].collect()
      .groupBy(_.user_id)
      .map { case (u, rs) =>
        u -> (rs.map(_.tv).min, rs.map(_.tc).min, rs.map(_.tp).min)
      }
  }

  test("streaming funnel: stage order enforced; late earlier view retroactively qualifies a click") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[FunnelEvent]
    val q = FunnelStream.funnelReach(in.toDS())
      .writeStream.format("memory").queryName("funnel1").outputMode("append").start()
    try {
      in.addData(
        // user 1: clean in-order funnel
        FunnelEvent(1L, "view", ts(10)), FunnelEvent(1L, "click", ts(20)),
        FunnelEvent(1L, "purchase", ts(30)),
        // user 2: clicks only BEFORE the first view — never click-qualified
        FunnelEvent(2L, "click", ts(5)), FunnelEvent(2L, "click", ts(8)),
        FunnelEvent(2L, "view", ts(10)), FunnelEvent(2L, "purchase", ts(50)),
        // user 3, batch 1: view at 10, click at 5 (not yet eligible),
        // purchases at 4 and 6
        FunnelEvent(3L, "view", ts(10)), FunnelEvent(3L, "click", ts(5)),
        FunnelEvent(3L, "purchase", ts(4)), FunnelEvent(3L, "purchase", ts(6)))
      q.processAllAvailable()
      // user 3, batch 2: an EARLIER view arrives late → tv drops to 3,
      // the click at 5 becomes eligible (tc=5), and purchase 6 qualifies
      // (tp=6) while purchase 4 stays below tc
      in.addData(FunnelEvent(3L, "view", ts(3)))
      q.processAllAvailable()
      val got = finalReach("funnel1")
      assert(got(1L) == (ts(10).getTime, ts(20).getTime, ts(30).getTime))
      assert(got(2L) == (ts(10).getTime, Unreached, Unreached))
      assert(got(3L) == (ts(3).getTime, ts(5).getTime, ts(6).getTime))
    } finally q.stop()
  }

  test("funnel state survives a checkpointed restart (candidate buffers recovered)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fun_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_fun_out").toString
    val in = MemoryStream[FunnelEvent]
    def start() = FunnelStream.funnelReach(in.toDS(), delay = "1000 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    // click and purchase arrive BEFORE any view: nothing is emitted
    // (cascade still Unreached) — the candidates live only in state
    in.addData(FunnelEvent(1L, "click", ts(20)), FunnelEvent(1L, "purchase", ts(30)))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      // the view arriving after restart must retroactively qualify the
      // RECOVERED click and purchase — if the buffers were lost the
      // cascade would stop at (view, Unreached, Unreached)
      in.addData(FunnelEvent(1L, "view", ts(10)))
      q2.processAllAvailable()
      val got = spark.read.parquet(out).as[FunnelReach].collect()
        .groupBy(_.user_id)
        .map { case (u, rs) => u -> (rs.map(_.tv).min, rs.map(_.tc).min, rs.map(_.tp).min) }
      assert(got == Map(1L -> ((ts(10).getTime, ts(20).getTime, ts(30).getTime))),
        s"recovered cascade wrong: $got")
    } finally q2.stop()
  }

  test("streaming funnel == batch cascade on randomized events in random arrival order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(1337L)
    val kinds = Array("view", "click", "purchase", "other")
    val events = (0 until 400).map { _ =>
      FunnelEvent(rnd.nextInt(30).toLong, kinds(rnd.nextInt(4)), ts(rnd.nextInt(300)))
    }
    val batches = rnd.shuffle(events).grouped(events.size / 4 + 1).toSeq
    val in = MemoryStream[FunnelEvent]
    val q = FunnelStream.funnelReach(in.toDS(), delay = "1000 seconds")
      .writeStream.format("memory").queryName("funnel2").outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = finalReach("funnel2")
      // batch reference over the same rows: per-user (tv, tc, tp)
      val evDf = events.toDF("user_id", "event_type", "ts")
      val expected = operators.EventWindows.funnelUserReach(evDf).collect().map { r =>
        def ms(i: Int) = if (r.isNullAt(i)) Unreached else r.getTimestamp(i).getTime
        r.getLong(0) -> (ms(1), ms(2), ms(3))
      }.toMap
      // streaming emits exactly the users whose cascade ever advanced —
      // i.e. every user with at least one view: the batch base relation
      assert(streamed.keySet == expected.keySet,
        s"user sets differ: ${streamed.keySet.diff(expected.keySet)} / ${expected.keySet.diff(streamed.keySet)}")
      expected.foreach { case (u, e) =>
        assert(streamed(u) == e, s"user $u: streamed ${streamed(u)} != batch $e")
      }
    } finally q.stop()
  }
}
