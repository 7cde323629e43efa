package graft

import java.sql.Timestamp

import graft.streaming.CusumStream
import graft.streaming.CusumStream.{DayStat, Ev}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming CUSUM must emit exactly the batch fold
  * ([[operators.EventWindows.qCusum]]) when given the same reference
  * means — day counts finalize only once the watermark passes the day
  * boundary, so late events still land in their day, and the emitted
  * recurrence values match the batch query row for row.
  */
class CusumStreamSpec extends SparkSpec {

  private def gotStats(table: String): Set[(String, Long, Long, Long, Long, Boolean)] = {
    import spark.implicits._
    spark.table(table).as[DayStat].collect()
      .map(d => (d.event_type, d.day_idx, d.n_events, d.cusum_pos, d.cusum_neg, d.is_alarm))
      .toSet
  }

  test("streaming cusum over the real corpus equals the batch query exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the batch means the monitor would be configured with
    val mu = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("d"))
      .groupBy("event_type", "d").count()
      .groupBy("event_type").agg(expr("sum(count) * 1000000 div count(1)").as("mu"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // shuffled single-batch feed: arrival order must not matter
    val evs = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id")).collect()
      .map(r => Ev(r.getString(0), r.getTimestamp(1), r.getLong(2)))
    val shuffled = new scala.util.Random(11).shuffle(evs.toSeq)
    val in = MemoryStream[Ev]
    val q = CusumStream.dayCusum(in.toDS(), mu, delay = "2 seconds")
      .writeStream.format("memory").queryName("cusum1").outputMode("append").start()
    try {
      in.addData(shuffled: _*)
      q.processAllAvailable()
      // advancer: a sentinel type far in the future pushes the watermark
      // past every real day boundary; its own day stays open and silent
      val maxTs = evs.map(_.ts.getTime).max
      in.addData(Ev("zz_advance", new Timestamp(maxTs + 5L * 86400000L), -1L))
      q.processAllAvailable()
      val batch = operators.EventWindows.qCusum(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
      assert(gotStats("cusum1") == batch)
    } finally q.stop()
  }

  test("cusum state survives a checkpointed restart (open-day counts + recurrence cursor)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day0 = 1700006400000L - (1700006400000L % 86400000L)
    def ts(ms: Long) = new Timestamp(ms)
    val mu = Map("a" -> 1500000L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cusum_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cusum_out").toString
    val in = MemoryStream[Ev]
    def start() = CusumStream.dayCusum(in.toDS(), mu, delay = "3 days")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    // two open days — counts and the (S+, S-) cursor live only in state
    in.addData(Ev("a", ts(day0 + 1000), 1L), Ev("a", ts(day0 + 5000), 2L),
      Ev("a", ts(day0 + 86400000L + 2000), 3L))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    try {
      // the advancer finalizes BOTH recovered days; day 1's fold runs
      // through day 0's recovered S+ — proving cursor recovery, not
      // just pending-count recovery
      in.addData(Ev("zz", ts(day0 + 10L * 86400000L), 9L))
      q2.processAllAvailable()
      val got = spark.read.parquet(out).as[DayStat].collect()
        .map(d => (d.event_type, d.day_idx, d.n_events, d.cusum_pos, d.cusum_neg, d.is_alarm))
        .toSet
      val d0 = day0 / 86400000L
      assert(got == Set(
        ("a", d0, 2L, 500000L, 0L, false),
        ("a", d0 + 1, 1L, 0L, 500000L, false)), got.toString)
    } finally q2.stop()
  }

  test("a late event lands in its own (unfinalized) day before the boundary passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day0 = 1700006400000L - (1700006400000L % 86400000L)
    def ts(ms: Long) = new Timestamp(ms)
    val mu = Map("a" -> 1500000L)
    val in = MemoryStream[Ev]
    val q = CusumStream.dayCusum(in.toDS(), mu, delay = "3 days")
      .writeStream.format("memory").queryName("cusum2").outputMode("append").start()
    try {
      in.addData(Ev("a", ts(day0 + 1000), 1L), Ev("a", ts(day0 + 86400000L + 2000), 2L))
      q.processAllAvailable()
      // wm = day1 time - 3d < day0: nothing finalized yet, so this day-0
      // event must still count
      in.addData(Ev("a", ts(day0 + 5000), 3L))
      q.processAllAvailable()
      assert(spark.table("cusum2").count() == 0, "no day may finalize before its boundary + delay")
      in.addData(Ev("zz", ts(day0 + 10L * 86400000L), 9L))
      q.processAllAvailable()
      val got = gotStats("cusum2")
      val d0 = day0 / 86400000L
      // day 0: n=2 (incl. the late row): sp = max(0, 2e6-1.5e6) = 5e5
      // day 1: n=1: sp = max(0, 5e5 + 1e6 - 1.5e6) = 0; sn = 5e5
      assert(got == Set(
        ("a", d0, 2L, 500000L, 0L, false),
        ("a", d0 + 1, 1L, 0L, 500000L, false)), got.toString)
    } finally q.stop()
  }
}
