package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import EventTimeBuffer.micros

/** Streaming twin of the batch transition matrix
  * ([[graft.operators.EventWindows.qEventTransitions]]): consecutive
  * (from → to) event pairs per user in EVENT-TIME order, emitted as an
  * append stream of individual transitions via `transformWithState`.
  *
  * Out-of-order correctness: "consecutive" is defined by event time, so
  * an earlier event arriving late would splice itself INTO an already
  * emitted pair. A pair is therefore only emitted once the watermark
  * passes its later event ([[EventTimeBuffer]] contract) — nothing that
  * can still arrive can land between two finalized events. Events
  * buffer per user until the watermark passes them, then finalize in
  * (ts, event_id) order against the retained last-finalized event — the
  * exact pairing the batch lead() window computes. State per user is the
  * open buffer (bounded by the watermark delay × user rate) plus the
  * O(1) last-finalized event.
  *
  * Scale shape: one shuffle on user_id into the state store (RocksDB
  * provider at cluster scale); the timer sits just above the newest
  * open event. Each transition is emitted exactly once (finalization is
  * strict-below-watermark and the last-event cursor advances with it) —
  * TransitionStreamSpec proves multiset equality with the batch pairing
  * on randomized out-of-order feeds.
  */
object TransitionStream {

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)

  case class Transition(user_id: Long, from_type: String, to_type: String, to_event_id: Long)

  // `hasLast` flags a live cursor (encoders round-trip None poorly
  // across codegen; a flag + fields is flat and fast). `pending` holds
  // events the watermark has not passed. Event times are kept in
  // MICROSECONDS: the batch lead() orders by the full-precision
  // timestamp, so a millisecond truncation would tie-break
  // same-ms/different-µs neighbors by event_id where the batch twin
  // orders them by time — an inverted (from, to) pair.
  private[graft] case class PendEv(ts: Long, id: Long, tp: String)
  private[graft] case class TransState(
      hasLast: Boolean, lastTs: Long, lastId: Long, lastType: String,
      pending: Seq[PendEv], timerTs: Long) extends EventTimeBuffer.Armed

  // "_v2": PendEv/TransState's persisted time domain changed ms → µs
  // (batch-parity fix); the state-name bump makes a resume from an
  // old-domain checkpoint start clean instead of silently
  // reinterpreting ms values as µs (same contract as
  // RateLimitStream's "ratelimit_v2").
  class TransProcessor extends EventTimeBuffer[Long, Ev, Transition, TransState](
      "transitions_v2", TransState(hasLast = false, 0L, 0L, "", Nil, 0L)) {

    override protected def stateEncoder: Encoder[TransState] = Encoders.product[TransState]

    override protected def buffer(prev: TransState, rows: Iterator[Ev]): TransState =
      prev.copy(pending =
        prev.pending ++ rows.map(e => PendEv(micros(e.ts), e.event_id, e.event_type)))

    /** Finalize every pending event strictly below the watermark in
      * (ts, id) order, pairing each against the advancing cursor. */
    override protected def finalizeBelow(uid: Long, merged: TransState,
        wmMs: Long): (Iterator[Transition], TransState) = {
      val wm = wmMs * 1000L // state domain is µs; the runtime's watermark is ms
      val (done, open) = merged.pending.partition(_.ts < wm)
      val out = Seq.newBuilder[Transition]
      var (hasLast, lTs, lId, lTp) =
        (merged.hasLast, merged.lastTs, merged.lastId, merged.lastType)
      done.sortBy(e => (e.ts, e.id)).foreach { e =>
        if (hasLast) out += Transition(uid, lTp, e.tp, e.id)
        hasLast = true; lTs = e.ts; lId = e.id; lTp = e.tp
      }
      // strictly-above timer (ms — the runtime's timer domain), same
      // contract as RateLimitStream: it fires once the watermark PASSES
      // the newest open event
      val newTimer =
        if (open.nonEmpty) Math.floorDiv(open.map(_.ts).max, 1000L) + 1L else 0L
      (out.result().iterator, TransState(hasLast, lTs, lId, lTp, open, newTimer))
    }
  }

  /** events → append stream of finalized [[Transition]]s; rows later
    * than `delay` behind the watermark are dropped by the runtime (the
    * reprocessing horizon, same contract as the other stream ops). */
  def transitions(events: Dataset[Ev], delay: String = "1 hour"): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new TransProcessor, TimeMode.EventTime(), OutputMode.Append())
  }
}
