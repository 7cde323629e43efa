package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ListState}

/** Streaming temporal enrich join — the streaming face of the native
  * batch as-of join ([[graft.plans.AsOfJoin]]): each event is enriched
  * with the LATEST version of its key's dimension row at-or-before the
  * event's time. Spark has no native temporal/versioned-dim join (Flink
  * does); this builds one from `transformWithState`:
  *
  *  - both inputs arrive as one keyed stream of [[TemporalJoin.In]]
  *    rows (`kind` = "dim" carries a new dimension version, "event"
  *    asks for enrichment) — the union trick that gives a single
  *    StatefulProcessor a consistent view of both sides;
  *  - per-key state is the dimension's version history (a ListState of
  *    (version-time, value)); v1 keeps the full history — a production
  *    variant would prune versions older than the watermark minus the
  *    maximum allowed event lateness;
  *  - within a micro-batch, rows are processed in event-time order with
  *    dims before events at equal timestamps, so a batch that carries
  *    both a version and an event at t sees the new version. ACROSS
  *    batches the match is processing-order (a dim that ARRIVES after
  *    an event it should have enriched is not retroactively applied) —
  *    the semantics of Flink's processing-time temporal join, and the
  *    honest contract for an append-only output. An event with no
  *    version at-or-before its time emits a null value (left-outer).
  */
object TemporalJoin {

  case class In(key: String, kind: String, ts: Timestamp, value: String)
  case class Enriched(key: String, ts: Timestamp, value: String, matched: Boolean)

  class TemporalProcessor extends StatefulProcessor[String, In, Enriched] {

    @transient private var versions: ListState[(Long, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      versions = getHandle.getListState[(Long, String)]("versions",
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING), TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[In],
        timers: TimerValues): Iterator[Enriched] = {
      val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, if (r.kind == "dim") 0 else 1))
      val out = Seq.newBuilder[Enriched]
      sorted.foreach { r =>
        if (r.kind == "dim") {
          versions.appendValue((r.ts.getTime, r.value))
        } else {
          val t = r.ts.getTime
          // latest version at-or-before t; the history is small and
          // append-ordered by arrival, which within this contract is
          // also version-time order
          var best: (Long, String) = null
          val it = versions.get()
          while (it.hasNext) {
            val v = it.next()
            if (v._1 <= t && (best == null || v._1 >= best._1)) best = v
          }
          out += (if (best == null) Enriched(key, r.ts, null, matched = false)
                  else Enriched(key, r.ts, best._2, matched = true))
        }
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Enriched] = Iterator.empty
  }

  /** Enrich the `event`-kind rows of a unioned dim/event stream with the
    * latest at-or-before dim version per key. transformWithState keeps
    * the history in the RocksDB state store, which every session built by
    * [[graft.Tables.configure]] uses. */
  def enrich(input: Dataset[In], watermarkDelay: String = "10 seconds"): Dataset[Enriched] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(new TemporalProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Watermark-correct (event-time) variant: events are BUFFERED in
    * state with an event-time timer and only matched once the watermark
    * passes their timestamp — so a dimension version that ARRIVES after
    * an event but carries an earlier version-time is still applied,
    * as long as it is no later than the watermark allows. This is the
    * full event-time temporal join contract (v1 above is the cheaper
    * processing-order variant); the cost is per-event state + timer and
    * emission latency of one watermark delay. Expired timers also prune
    * the version history: everything older than the latest version
    * at-or-before the fired timestamp can never be matched again. */
  class EventTimeTemporalProcessor extends StatefulProcessor[String, In, Enriched] {

    @transient private var versions: ListState[(Long, String)] = _
    @transient private var pending: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      versions = getHandle.getListState[(Long, String)]("versions",
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING), TTLConfig.NONE)
      pending = getHandle.getListState[Long]("pending", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[In],
        timers: TimerValues): Iterator[Enriched] = {
      rows.foreach { r =>
        if (r.kind == "dim") versions.appendValue((r.ts.getTime, r.value))
        else {
          pending.appendValue(r.ts.getTime)
          getHandle.registerTimer(r.ts.getTime)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Enriched] = {
      val upTo = info.getExpiryTimeInMs()
      val vs = { val b = Seq.newBuilder[(Long, String)]
        val it = versions.get(); while (it.hasNext) b += it.next(); b.result() }
      val (due, rest) = { val b = Seq.newBuilder[Long]
        val it = pending.get(); while (it.hasNext) b += it.next()
        b.result().partition(_ <= upTo) }
      val out = due.sorted.map { t =>
        val best = vs.filter(_._1 <= t).sortBy(v => (v._1, v._2)).lastOption
        best match {
          case Some((_, v)) => Enriched(key, new Timestamp(t), v, matched = true)
          case None => Enriched(key, new Timestamp(t), null, matched = false)
        }
      }
      if (rest.isEmpty) pending.clear() else pending.put(rest.toArray)
      // prune: only the latest version at-or-before `upTo` can still
      // match a future event (their timestamps all exceed upTo)
      val keepFrom = vs.filter(_._1 <= upTo).map(_._1).maxOption
      keepFrom.foreach { kf =>
        val kept = vs.filter(_._1 >= kf)
        if (kept.size < vs.size) versions.put(kept.toArray)
      }
      out.iterator
    }
  }

  /** Event-time (watermark-correct) temporal enrich — see
    * [[EventTimeTemporalProcessor]]. */
  def enrichEventTime(input: Dataset[In], watermarkDelay: String = "10 seconds"): Dataset[Enriched] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .transformWithState(new EventTimeTemporalProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
