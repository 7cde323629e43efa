package graft

import java.sql.Timestamp

import graft.streaming.TransitionStream
import graft.streaming.TransitionStream.{Ev, Transition}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming transition matrix must emit exactly the batch lead()
  * pairing — including when an earlier event arrives late and splices
  * itself between two already-seen events (which must NOT have paired
  * yet: that is the watermark-finalization contract).
  */
class TransitionStreamSpec extends SparkSpec {

  private val base = 1700000000000L
  private def ts(ms: Long): Timestamp = new Timestamp(base + ms)

  private def gotPairs(table: String): Set[(Long, String, String, Long)] = {
    import spark.implicits._
    spark.table(table).as[Transition].collect()
      .map(t => (t.user_id, t.from_type, t.to_type, t.to_event_id)).toSet
  }

  /** The batch pairing over the same events (finalized population). */
  private def batchPairs(evs: Seq[Ev]): Set[(Long, String, String, Long)] = {
    import spark.implicits._
    operators.EventWindows.transitionPairs(evs.toDF())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
  }

  test("late earlier event splices into the sequence; equals the batch pairing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = TransitionStream.transitions(in.toDS(), delay = "2 seconds")
      .writeStream.format("memory").queryName("trans1").outputMode("append").start()
    try {
      // user 1: view(1000) click(1800); the purchase at 1400 arrives in
      // batch 2 (late but within the horizon) and must pair view ->
      // purchase -> click, NOT view -> click
      val b1 = Seq(Ev(1L, ts(1000), 10L, "view"), Ev(1L, ts(1800), 11L, "click"))
      in.addData(b1: _*)
      q.processAllAvailable()
      val late = Seq(Ev(1L, ts(1400), 12L, "purchase"))
      in.addData(late: _*)
      q.processAllAvailable()
      // advancer: its own event stays open forever (watermark never
      // passes it), so the finalized population is b1 ++ late
      in.addData(Ev(9L, ts(500000), 99L, "view"))
      q.processAllAvailable()
      val got = gotPairs("trans1")
      assert(got == batchPairs(b1 ++ late))
      assert(got.contains((1L, "view", "purchase", 12L)))
      assert(got.contains((1L, "purchase", "click", 11L)))
      assert(!got.contains((1L, "view", "click", 11L)),
        "the early pair must have waited for the watermark, not emitted then retracted")
    } finally q.stop()
  }

  test("transition state survives a checkpointed restart (cursor and buffer recovered)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft_trans_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_trans_out").toString
    val in = MemoryStream[Ev]
    def start() = TransitionStream.transitions(in.toDS(), delay = "2 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    // wm reaches 8000: view(1000) finalizes into the cursor (no pair yet),
    // click(10000) stays buffered — both live only in state at shutdown
    in.addData(Ev(1L, ts(1000), 1L, "view"), Ev(1L, ts(10000), 2L, "click"))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      // after restart the recovered cursor (view) must pair the recovered
      // buffered click, then the new purchase — proving full state recovery
      in.addData(Ev(1L, ts(12000), 3L, "purchase"), Ev(9L, ts(500000), 99L, "view"))
      q2.processAllAvailable()
      val got = spark.read.parquet(out).as[Transition].collect()
        .map(t => (t.user_id, t.from_type, t.to_type, t.to_event_id)).toSet
      assert(got == Set((1L, "view", "click", 2L), (1L, "click", "purchase", 3L)))
    } finally q2.stop()
  }

  test("randomized out-of-order feed matches the batch pairing exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val types = Vector("view", "click", "purchase", "signup", "error")
    val evs = (0 until 400).map(i =>
      Ev(1L + rnd.nextInt(4), ts(rnd.nextInt(8000).toLong), 1000L + i, types(rnd.nextInt(5))))
    val in = MemoryStream[Ev]
    val q = TransitionStream.transitions(in.toDS(), delay = "2 seconds")
      .writeStream.format("memory").queryName("trans2").outputMode("append").start()
    try {
      // watermark contract: batches ascend in event time, arrival order
      // within a batch is arbitrary (unordered up to the 2 s horizon)
      evs.sortBy(_.ts.getTime).grouped(40).foreach { b =>
        in.addData(rnd.shuffle(b): _*); q.processAllAvailable()
      }
      in.addData(Ev(9L, ts(500000), 9999L, "view")) // finalize everyone
      q.processAllAvailable()
      assert(gotPairs("trans2") == batchPairs(evs))
    } finally q.stop()
  }
}
