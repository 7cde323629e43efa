package graft.streaming

import java.sql.Timestamp

/** Event types of the gateway's request/response correlator (G12/G13,
  * gateway.ts:72-137, 311-325), implemented by [[CorrelatorV2.correlate]]. */
object Correlator {

  /** A request or response on the gateway bus, unioned into one stream.
    * kind ∈ {"request", "response"}. */
  case class GwEvent(sn: String, kind: String, ts: Timestamp)

  /** outcome ∈ {"matched", "timeout", "unmatched_response"}; latency_ms
    * is -1 for non-matched outcomes. */
  case class Correlated(sn: String, outcome: String, latency_ms: Long)
}
