package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import EventTimeBuffer.micros

/** Streaming twin of the batch gateway rate limiter
  * ([[graft.operators.Gateway.qRateLimit]], G6): per-user trailing-1s call
  * counting with the ≤limit/s admission rule, kept in keyed state via
  * `transformWithState` and emitted as change-driven per-user audit
  * snapshots `(n_events, max_calls_1s, n_denied_1s)`.
  *
  * Out-of-order correctness: a call at time t is counted against the
  * trailing window [t−1s, t], so an EARLIER call arriving late can raise
  * an already-seen call's count past the limit. A decision is therefore
  * not taken at arrival but FINALIZED at the watermark
  * ([[EventTimeBuffer]] contract): once the watermark passes t, nothing
  * that could still arrive can land in [t−1s, t], and the count is
  * exact. Calls are finalized strictly below the watermark and buffered
  * until 1s below it (a later call's window may still reach them), so
  * state per user is the calls of the last watermark second plus an
  * O(1) finalized aggregate — bounded by per-user RATE, not history.
  *
  * Scale shape: one shuffle on user_id into the state store (RocksDB
  * provider at cluster scale, same contract as [[CorrelatorV2]]); the
  * timer sits just above the newest buffered call. Emission is
  * change-driven, so the output stream is bounded by finalization
  * progress, not call volume. All three audit
  * columns are monotone non-decreasing across a user's snapshots (events
  * only accumulate), so `max` per column over snapshots IS the final
  * answer — the property RateLimitStreamSpec aggregates on and proves
  * equal to the batch window query on randomized out-of-order feeds.
  */
object RateLimitStream {

  case class ApiCall(user_id: Long, ts: Timestamp)

  /** Per-user audit snapshot over FINALIZED calls (exact counts). */
  case class LimitStats(user_id: Long, n_events: Long, max_calls_1s: Long, n_denied_1s: Long)

  // `pending` holds calls not yet finalized; `band` retains
  // already-finalized calls of the trailing watermark second, because a
  // later call's window may still count them (the split is what keeps
  // finalization exactly-once). Call times are kept in MICROSECONDS — the batch twin's window is
  // `unix_micros RANGE BETWEEN -1000000 AND 0`, and a millisecond
  // truncation would diverge from it exactly at the window boundary for
  // sub-millisecond timestamps.
  private[graft] case class LimitState(
      band: Seq[Long], pending: Seq[Long], timerTs: Long,
      nEvents: Long, maxC: Long, nDenied: Long) extends EventTimeBuffer.Armed

  // "_v2": the persisted time domain changed ms → µs (batch-parity
  // fix); without a state-name bump a query resumed from an OLD
  // checkpoint would silently reinterpret ms values as µs (1000×
  // too small) and finalize everything immediately with wrong
  // window counts. The renamed handle makes a resume start clean.
  class LimitProcessor(limit: Int)
      extends EventTimeBuffer[Long, ApiCall, LimitStats, LimitState]("ratelimit_v2",
        LimitState(Nil, Nil, 0L, 0L, 0L, 0L)) {

    override protected def stateEncoder: Encoder[LimitState] = Encoders.product[LimitState]

    override protected def buffer(prev: LimitState, rows: Iterator[ApiCall]): LimitState =
      prev.copy(pending = (prev.pending ++ rows.map(r => micros(r.ts))).sorted)

    /** Finalize every pending call strictly below the watermark, prune
      * the retained band to the trailing second, and emit a snapshot if
      * the finalized aggregate advanced. */
    override protected def finalizeBelow(uid: Long, merged: LimitState,
        wmMs: Long): (Iterator[LimitStats], LimitState) = {
      val wm = wmMs * 1000L // state domain is µs; the runtime's watermark is ms
      val (done, open) = merged.pending.partition(_ < wm)
      val all = (merged.band ++ merged.pending).sorted
      var (n, maxC, denied) = (merged.nEvents, merged.maxC, merged.nDenied)
      done.foreach { t =>
        // exact trailing-window count: band+pending still hold everything
        // in [t−1s, t] (the band is pruned below wm−1s only AFTER this)
        val c = all.count(x => x >= t - 1000000L && x <= t)
        n += 1; maxC = math.max(maxC, c); if (c > limit) denied += 1
      }
      // a later call's window reaches 1s back, so keep that trailing band
      val band = (merged.band ++ done).filter(_ >= wm - 1000000L).sorted
      // timer (ms domain) strictly above the newest pending call: it
      // fires once the watermark PASSES it, and finalization is strict
      // (< wm µs) — once wmMs exceeds the call's ms, wm µs exceeds the
      // call's µs, so nothing can stay open forever
      val newTimer = if (open.nonEmpty) Math.floorDiv(open.max, 1000L) + 1L else 0L
      val out = if (n != merged.nEvents) Iterator.single(LimitStats(uid, n, maxC, denied))
        else Iterator.empty
      (out, LimitState(band, open, newTimer, n, maxC, denied))
    }
  }

  /** calls(user_id, ts) → change-driven [[LimitStats]] snapshots; rows
    * later than `delay` behind the watermark are dropped by the runtime
    * (the reprocessing horizon, same contract as the other stream ops). */
  def limitStats(calls: Dataset[ApiCall], limit: Int = 10,
      delay: String = "1 hour"): Dataset[LimitStats] = {
    val spark = calls.sparkSession
    import spark.implicits._
    calls
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new LimitProcessor(limit), TimeMode.EventTime(), OutputMode.Append())
  }
}
