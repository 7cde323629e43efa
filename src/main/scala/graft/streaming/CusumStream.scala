package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming twin of the batch CUSUM control chart
  * ([[graft.operators.EventWindows.qCusum]]): per event type, daily
  * volumes accumulate in event time and each day's two-sided CUSUM
  * update (S⁺/S⁻ against a supplied reference mean) is emitted exactly
  * once, as soon as the watermark passes the day boundary.
  *
  * The reference mean μ is an INPUT here, not derived from the stream —
  * a control chart monitors against an expectation fixed before the
  * data arrives (in batch, μ comes from the full window; a deployment
  * computes it offline and ships it with the monitor). With μ taken
  * from the same population the batch query folds, the outputs are
  * IDENTICAL — CusumStreamSpec proves row equality against qCusum on
  * the real corpus fed through a MemoryStream out of order.
  *
  * Out-of-order correctness ([[EventTimeBuffer]] contract): a day's
  * count is only folded into the recurrence once the watermark passes
  * the END of that day. Days with zero events don't exist in the batch
  * grouping either, so the fold skips them identically. State per type
  * is the open per-day count map plus the O(1) (S⁺, S⁻) cursor; the
  * timer sits at the earliest open day boundary.
  *
  * Scale shape: ONE shuffle on event_type into the state store
  * (RocksDB provider at cluster scale); per-day partial counts could
  * be pre-aggregated map-side upstream if types are hot — the state
  * update itself is O(open days), bounded by the watermark delay.
  */
object CusumStream {

  case class Ev(event_type: String, ts: Timestamp, event_id: Long)

  case class DayStat(event_type: String, day_idx: Long, n_events: Long,
      cusum_pos: Long, cusum_neg: Long, is_alarm: Boolean)

  private[graft] case class PendDay(day: Long, n: Long)
  private[graft] case class CusumState(sp: Long, sn: Long,
      pending: Seq[PendDay], timerTs: Long) extends EventTimeBuffer.Armed

  private val DayMs = 86400000L

  class CusumProcessor(muPpmByType: Map[String, Long])
      extends EventTimeBuffer[String, Ev, DayStat, CusumState]("cusum",
        CusumState(0L, 0L, Nil, 0L)) {

    override protected def stateEncoder: Encoder[CusumState] = Encoders.product[CusumState]

    /** Fold every pending day whose END the watermark has passed, in
      * day order, through the CUSUM recurrence. */
    override protected def finalizeBelow(tp: String, merged: CusumState,
        wm: Long): (Iterator[DayStat], CusumState) = {
      val mu = muPpmByType.getOrElse(tp, 0L)
      val (done, open) = merged.pending.partition(p => (p.day + 1) * DayMs <= wm)
      val out = Seq.newBuilder[DayStat]
      var sp = merged.sp; var sn = merged.sn
      done.sortBy(_.day).foreach { p =>
        sp = math.max(0L, sp + p.n * 1000000L - mu)
        sn = math.max(0L, sn + mu - p.n * 1000000L)
        out += DayStat(tp, p.day, p.n, sp, sn, sp > 3 * mu || sn > 3 * mu)
      }
      val newTimer = if (open.nonEmpty) (open.map(_.day).min + 1) * DayMs else 0L
      (out.result().iterator, CusumState(sp, sn, open, newTimer))
    }

    override protected def buffer(prev: CusumState, rows: Iterator[Ev]): CusumState = {
      val add = rows.foldLeft(Map.empty[Long, Long]) { (m, e) =>
        val d = math.floorDiv(e.ts.getTime, DayMs)
        m.updated(d, m.getOrElse(d, 0L) + 1L)
      }
      prev.copy(pending = (prev.pending.map(p => p.day -> p.n).toMap.toSeq ++ add.toSeq)
        .groupBy(_._1).map { case (d, xs) => PendDay(d, xs.map(_._2).sum) }.toSeq)
    }
  }

  /** events → append stream of day-finalized CUSUM updates against the
    * supplied per-type reference means (ppm fixed point). */
  def dayCusum(events: Dataset[Ev], muPpmByType: Map[String, Long],
      delay: String = "1 hour"): Dataset[DayStat] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.event_type)
      .transformWithState(new CusumProcessor(muPpmByType), TimeMode.EventTime(), OutputMode.Append())
  }
}
