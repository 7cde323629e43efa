package graft

import java.sql.Timestamp

import graft.streaming.AbStream
import graft.streaming.AbStream.{DayZ, Ev}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming sequential A/B monitor must emit exactly the batch
  * decision sequence ([[operators.EventWindows.qAbSequential]]): every
  * day finalizes once, in day order, with the identical cumulative
  * Welch z — fed the real corpus out of order through a MemoryStream.
  */
class AbStreamSpec extends SparkSpec {

  test("streaming A/B monitor over the real corpus equals the batch query exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"), col("ts"), col("value")).collect()
      .map(r => Ev(r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val shuffled = new scala.util.Random(23).shuffle(evs.toSeq)
    val in = MemoryStream[Ev]
    val q = AbStream.dayZ(in.toDS(), delay = "2 seconds")
      .writeStream.format("memory").queryName("abz1").outputMode("append").start()
    try {
      in.addData(shuffled: _*)
      q.processAllAvailable()
      // advancer: pushes the watermark past every real day; its own event
      // type never reaches the monitor state
      val maxTs = evs.map(_.ts.getTime).max
      in.addData(Ev("zz_advance", 1L, new Timestamp(maxTs + 5L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.table("abz1").as[DayZ].collect()
        .map(d => (d.day_idx, d.na, d.nb, d.mean_diff, d.z, d.signif)).toSet
      val batch = operators.EventWindows.qAbSequential(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Boolean]))).toSet
      assert(got == batch, s"stream ${got.size} rows vs batch ${batch.size}")
    } finally q.stop()
  }

  test("A/B monitor state survives a checkpointed restart (open-day partials + cumulative moments)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day0 = 1700006400000L - (1700006400000L % 86400000L)
    def ts(ms: Long) = new Timestamp(ms)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ab_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ab_out").toString
    val in = MemoryStream[Ev]
    def start() = AbStream.dayZ(in.toDS(), delay = "3 days")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    // both days still open at shutdown — per-arm moment partials and
    // the cumulative cursor live only in state
    in.addData(
      Ev("purchase", 2L, ts(day0 + 1000), 10.0),
      Ev("purchase", 3L, ts(day0 + 2000), 20.0),
      Ev("purchase", 4L, ts(day0 + 86400000L + 1000), 30.0))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      // day 1's cumulative mean_diff (0.0) is reachable only through
      // day 0's recovered arm partials — cursor recovery, not just
      // pending recovery
      in.addData(Ev("zz_advance", 1L, ts(day0 + 10L * 86400000L), 0.0))
      q2.processAllAvailable()
      val got = spark.read.parquet(out).as[DayZ].collect().sortBy(_.day_idx)
      val d0 = day0 / 86400000L
      assert(got.length == 2, got.mkString(";"))
      assert(got(0) == DayZ(d0, 1L, 1L, Some(-10.0), None, None), got(0).toString)
      assert(got(1) == DayZ(d0 + 1, 2L, 1L, Some(0.0), None, None), got(1).toString)
    } finally q2.stop()
  }

  test("a day emits only after its boundary passes, with the cumulative z at that point") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day0 = 1700006400000L - (1700006400000L % 86400000L)
    def ts(ms: Long) = new Timestamp(ms)
    val in = MemoryStream[Ev]
    val q = AbStream.dayZ(in.toDS(), delay = "3 days")
      .writeStream.format("memory").queryName("abz2").outputMode("append").start()
    try {
      in.addData(
        Ev("purchase", 2L, ts(day0 + 1000), 10.0),  // arm A
        Ev("purchase", 3L, ts(day0 + 2000), 20.0),  // arm B
        Ev("purchase", 4L, ts(day0 + 86400000L + 1000), 30.0)) // day 1, arm A
      q.processAllAvailable()
      assert(spark.table("abz2").count() == 0, "nothing finalizes inside the delay horizon")
      in.addData(Ev("zz_advance", 1L, ts(day0 + 10L * 86400000L), 0.0))
      q.processAllAvailable()
      val got = spark.table("abz2").as[DayZ].collect().sortBy(_.day_idx)
      assert(got.length == 2)
      val d0 = day0 / 86400000L
      // day 0: one purchase per arm → means 10 vs 20, no z (n <= 1)
      assert(got(0) == DayZ(d0, 1L, 1L, Some(-10.0), None, None), got(0).toString)
      // day 1: cumulative A = {10, 30}, B = {20} → nb = 1 still no z
      assert(got(1) == DayZ(d0 + 1, 2L, 1L, Some(0.0), None, None), got(1).toString)
    } finally q.stop()
  }
}
