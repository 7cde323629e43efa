package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

import Correlator.{Correlated, GwEvent}

/** The gateway's request/response correlator (G12/G13, gateway.ts:72-137,
  * 311-325) on Spark 4's `transformWithState` StatefulProcessor API
  * (SURVEY.md §7.3). Semantics mirrored from the reference:
  *  - a request registers keyed state under its serial number `sn`
  *    (gateway.ts:318-323);
  *  - a response that finds the state emits a `matched` record with the
  *    measured latency and clears the state (gateway.ts:74-81, 69);
  *  - a response with no state is an `unmatched_response` dead-letter
  *    (gateway.ts:134-136);
  *  - a request unanswered for `timeoutMs` (default 30 s, the nanomsg
  *    receive timeout, gateway.ts:56) emits a `timeout` record via an
  *    event-time timer.
  *
  * State is partitioned by `sn` and is O(1) per key, freed on match or
  * timeout, so total state is bounded by the in-flight window, not the
  * stream length. The `ValueState` and timers live in the RocksDB state
  * store, which every session built by [[graft.Tables.configure]] uses.
  */
object CorrelatorV2 {

  class CorrelatorProcessor(timeoutMs: Long)
      extends StatefulProcessor[String, GwEvent, Correlated] {

    @transient private var inFlight: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      inFlight = getHandle.getValueState[Long]("inFlight", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(sn: String, rows: Iterator[GwEvent],
        timers: TimerValues): Iterator[Correlated] = {
      // Event-TIME order within a batch (arrival order in a micro-batch
      // is not meaningful; event time is the proxy for the reference's
      // single event loop), requests first only at EQUAL timestamps (a
      // same-instant request/response pair must pair up). Kind-major
      // ordering would be wrong under sn reuse: a response landing in the
      // same batch as a LATER reused-sn request would match the new
      // request (negative latency) and lose the real match.
      val evs = rows.toSeq.sortBy(e => (e.ts.getTime, if (e.kind == "request") 0 else 1))
      val out = Seq.newBuilder[Correlated]
      evs.foreach { e =>
        if (e.kind == "request") {
          // a re-registered sn replaces the previous request: drop the
          // old timer so it can't later fire against the new request
          if (inFlight.exists()) getHandle.deleteTimer(inFlight.get() + timeoutMs)
          inFlight.update(e.ts.getTime)
          getHandle.registerTimer(e.ts.getTime + timeoutMs)
        } else if (inFlight.exists()) {
          out += Correlated(sn, "matched", e.ts.getTime - inFlight.get())
          // delete the pending timer (derivable: request ts + timeout) —
          // without this a later reuse of the same sn would be clobbered
          // by the stale timer firing (spurious timeout + cleared state)
          getHandle.deleteTimer(inFlight.get() + timeoutMs)
          inFlight.clear()
        } else {
          out += Correlated(sn, "unmatched_response", -1L)
        }
      }
      out.result().iterator
    }

    override def handleExpiredTimer(sn: String, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Correlated] =
      // defense in depth: only time out if this timer belongs to the
      // CURRENT in-flight request (a stale timer for a superseded or
      // matched request must not clear live state)
      if (inFlight.exists() && info.getExpiryTimeInMs() == inFlight.get() + timeoutMs) {
        inFlight.clear()
        Iterator.single(Correlated(sn, "timeout", -1L))
      } else Iterator.empty // timer for an already-matched/superseded request
  }

  def correlate(events: Dataset[GwEvent], timeoutMs: Long = 30000L,
      watermarkDelay: String = "10 seconds"): Dataset[Correlated] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.sn)
      .transformWithState(new CorrelatorProcessor(timeoutMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
