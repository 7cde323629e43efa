package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** The watermark-finalized `transformWithState` processor shared by the
  * event-time stream twins ([[AbStream]], [[CusumStream]],
  * [[RateLimitStream]], [[SessionStream]], [[TransitionStream]]).
  *
  * Buffering invariant: input rows join a per-key buffer in one
  * `ValueState[S]` and are folded, in event-time order, only once the
  * watermark has passed them — every row that could still change the
  * result is later than the watermark, so each emission is final and
  * happens exactly once whatever the arrival order. Rows later than the
  * watermark delay are dropped by the runtime (the reprocessing horizon).
  *
  * Timer invariant: each key with an open buffer keeps exactly ONE
  * event-time timer armed, strictly above the watermark, at the point
  * where its next finalization can happen; its value (ms, the runtime's
  * timer domain; 0 = none) is persisted as the state's `timerTs`. When a
  * fold moves it, the armed timer is deleted only if it is still above
  * the watermark (a fired one no longer exists) and the new one is
  * registered. Quiet keys therefore finalize as the watermark advances,
  * without waiting for their next row.
  *
  * State-store work per call and key: one `exists`, at most one `get`,
  * one `update`, plus the timer calls above. A subclass decides only how
  * rows join its buffer ([[buffer]]), what finalizing emits and where the
  * next timer goes ([[finalizeBelow]]).
  */
abstract class EventTimeBuffer[K, I, O, S <: EventTimeBuffer.Armed](stateName: String, empty: S)
    extends StatefulProcessor[K, I, O] {

  /** Encoder of the state class, built in `init` on the executor. */
  protected def stateEncoder: Encoder[S]

  /** `prev` with `rows` joined to its buffer. */
  protected def buffer(prev: S, rows: Iterator[I]): S

  /** Folds what the watermark `wmMs` has passed: the rows to emit and the
    * next state, whose `timerTs` is the next timer (> `wmMs`, or 0). */
  protected def finalizeBelow(key: K, s: S, wmMs: Long): (Iterator[O], S)

  @transient private var st: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[I], timers: TimerValues): Iterator[O] = {
    val prev = if (st.exists()) st.get() else empty
    finalizeAndRearm(key, prev.timerTs, buffer(prev, rows), timers.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: K, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[O] =
    if (!st.exists()) Iterator.empty
    else {
      val s = st.get()
      finalizeAndRearm(key, s.timerTs, s, timers.getCurrentWatermarkInMs())
    }

  private def finalizeAndRearm(key: K, armed: Long, s: S, wmMs: Long): Iterator[O] = {
    val (out, next) = finalizeBelow(key, s, wmMs)
    if (next.timerTs != armed) {
      if (armed > wmMs) getHandle.deleteTimer(armed)
      if (next.timerTs > 0L) getHandle.registerTimer(next.timerTs)
    }
    st.update(next)
    out
  }
}

object EventTimeBuffer {

  /** A state that persists its armed timer. The state classes are
    * `private[graft]`, not `private`: a private nested class compiles to
    * private bytecode, which the generated encoder projections cannot
    * touch, so state (de)serialization silently falls back to
    * interpreted eval on every state access. */
  trait Armed { def timerTs: Long }

  /** Microseconds since epoch, full sub-ms precision (getTime alone
    * truncates to ms; the sub-second field carries the rest). */
  def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
}
