package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming twin of the batch sessionizer
  * ([[graft.operators.EventWindows.qSessionize]]): 30-minute-gap
  * sessions per user with stable session indexes, emitted as an append
  * stream of CLOSED sessions via `transformWithState`.
  *
  * Out-of-order correctness: the gap rule is an event-time property, so
  * a late-arriving earlier event can (a) extend a session backward-in-
  * arrival-order, or (b) BRIDGE two runs of events that a naive
  * arrival-order sessionizer would have split. Events therefore buffer
  * per user until the watermark passes them ([[EventTimeBuffer]]
  * contract), then finalize in (ts, event_id) order against the open
  * session; the open session itself closes only when the watermark
  * passes `last_event + gap` — at that point no admissible future event
  * (all ≥ watermark) can be within the gap, so the emission is final. The gap compares FLOORED epoch
  * seconds, bit-matching the batch query's `cast(ts as long)`.
  *
  * Scale shape: one shuffle on user_id into the state store (RocksDB
  * provider at cluster scale); state per user is the open buffer
  * (bounded by watermark delay × user rate) plus the O(1) open-session
  * accumulator; the timer sits at min(next finalization, session
  * close), so quiet users close sessions without new input.
  * SessionStreamSpec proves multiset equality with the batch window
  * form on out-of-order and session-bridging feeds.
  */
object SessionStream {

  val GapSeconds = 1800L

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)

  case class Session(user_id: Long, session_idx: Long, n_events: Long,
      start_s: Long, end_s: Long, duration_s: Long)

  // Times are epoch MILLIS; the gap rule floors to seconds at
  // comparison time to match the batch query.
  private[graft] case class PendEv(ts: Long, id: Long)
  private[graft] case class SessState(
      hasOpen: Boolean, idx: Long, nEvents: Long, startTs: Long, lastTs: Long,
      pending: Seq[PendEv], timerTs: Long) extends EventTimeBuffer.Armed

  class SessProcessor extends EventTimeBuffer[Long, Ev, Session, SessState]("sessions",
      SessState(hasOpen = false, 0L, 0L, 0L, 0L, Nil, 0L)) {

    override protected def stateEncoder: Encoder[SessState] = Encoders.product[SessState]

    private def secs(ms: Long): Long = Math.floorDiv(ms, 1000L)

    private def emit(uid: Long, s: SessState): Session =
      Session(uid, s.idx, s.nEvents, secs(s.startTs), secs(s.lastTs),
        secs(s.lastTs) - secs(s.startTs))

    override protected def buffer(prev: SessState, rows: Iterator[Ev]): SessState =
      prev.copy(pending = prev.pending ++ rows.map(e => PendEv(e.ts.getTime, e.event_id)))

    /** Finalize pending events strictly below the watermark in (ts, id)
      * order, splitting sessions on the floored-seconds gap; then close
      * the open session if the watermark has passed its gap horizon. */
    override protected def finalizeBelow(uid: Long, merged: SessState,
        wm: Long): (Iterator[Session], SessState) = {
      val (done, open) = merged.pending.partition(_.ts < wm)
      val out = Seq.newBuilder[Session]
      var cur = merged
      done.sortBy(e => (e.ts, e.id)).foreach { e =>
        if (!cur.hasOpen) {
          cur = cur.copy(hasOpen = true, idx = cur.idx + 1, nEvents = 1L,
            startTs = e.ts, lastTs = e.ts)
        } else if (secs(e.ts) - secs(cur.lastTs) > GapSeconds) {
          out += emit(uid, cur)
          cur = cur.copy(idx = cur.idx + 1, nEvents = 1L, startTs = e.ts, lastTs = e.ts)
        } else {
          cur = cur.copy(nEvents = cur.nEvents + 1L, lastTs = e.ts)
        }
      }
      // close the open session once NO admissible event can extend it:
      // every future event has ts >= wm, so its floored-seconds gap is
      // at least secs(wm) - secs(lastTs)
      if (cur.hasOpen && secs(wm) - secs(cur.lastTs) > GapSeconds) {
        out += emit(uid, cur)
        cur = cur.copy(hasOpen = false, nEvents = 0L, startTs = 0L, lastTs = 0L)
      }
      // wake at the earlier of: the newest open event finalizing, or the
      // open session's close horizon (strictly-above contract as in
      // RateLimitStream/TransitionStream)
      val cands = Seq(
        if (open.nonEmpty) Some(open.map(_.ts).max + 1L) else None,
        if (cur.hasOpen) Some((secs(cur.lastTs) + GapSeconds + 1L) * 1000L) else None).flatten
      val newTimer = if (cands.nonEmpty) cands.min else 0L
      (out.result().iterator, cur.copy(pending = open, timerTs = newTimer))
    }
  }

  /** events → append stream of CLOSED [[Session]]s; rows later than
    * `delay` behind the watermark are dropped by the runtime (the
    * reprocessing horizon, same contract as the other stream ops). */
  def sessions(events: Dataset[Ev], delay: String = "1 hour"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new SessProcessor, TimeMode.EventTime(), OutputMode.Append())
  }
}
