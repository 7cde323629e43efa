package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming twin of the batch sequential A/B monitor
  * ([[graft.operators.EventWindows.qAbSequential]]): purchase values
  * split into arms by user-id parity, per-day per-arm moment partials
  * accumulate in event time, and each day's cumulative Welch z is
  * emitted exactly once — as soon as the watermark passes the day
  * boundary — against the O'Brien–Fleming-style |z| > 2.797 boundary.
  * This is the monitor an experimentation platform actually runs: the
  * decision sequence must be identical whether the data is replayed in
  * batch or observed live, and AbStreamSpec proves row equality against
  * the batch query on the real corpus fed out of order.
  *
  * Out-of-order correctness follows the [[EventTimeBuffer]] contract: a
  * day folds into the cumulative moments only once the watermark passes
  * its END, so every late-but-in-horizon purchase still lands in its
  * day; the z computation repeats the batch query's exact double dag on
  * exact integer sums, so emitted values are bit-identical.
  *
  * Scale shape: the experiment is ONE key (a monitor per experiment),
  * so corpus-sized traffic should pre-aggregate per-day partials
  * map-side upstream (a `groupBy(day, arm)` before the stateful op);
  * state is the O(1) cumulative-moment cursor plus the open-day
  * partials bounded by the watermark delay.
  */
object AbStream {

  case class Ev(event_type: String, user_id: Long, ts: Timestamp, value: Double)

  case class DayZ(day_idx: Long, na: Long, nb: Long,
      mean_diff: Option[Double], z: Option[Double], signif: Option[Boolean])

  private[graft] case class Pend(day: Long, naD: Long, saD: Long, qaD: Long,
      nbD: Long, sbD: Long, qbD: Long)
  private[graft] case class AbState(na: Long, sa: Long, qa: Long,
      nb: Long, sb: Long, qb: Long, pending: Seq[Pend], timerTs: Long)
      extends EventTimeBuffer.Armed

  private val DayMs = 86400000L

  /** Round like Spark's `round(x, 6)` (BigDecimal.valueOf + HALF_UP). */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Fixed-point cents like the batch `CAST(round(value * 100) AS BIGINT)`. */
  private[graft] def cents(v: Double): Long =
    BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  class AbProcessor extends EventTimeBuffer[String, Ev, DayZ, AbState]("ab",
      AbState(0L, 0L, 0L, 0L, 0L, 0L, Nil, 0L)) {

    override protected def stateEncoder: Encoder[AbState] = Encoders.product[AbState]

    /** The batch query's z dag, verbatim: Welch variance terms from the
      * exact cumulative integer moments, one rounded division. */
    private def stats(na: Long, sa: Long, qa: Long, nb: Long, sb: Long,
        qb: Long): (Option[Double], Option[Double], Option[Boolean]) = {
      val meanDiff =
        if (na > 0 && nb > 0) Some(r6(sa.toDouble / na / 100.0 - sb.toDouble / nb / 100.0))
        else None
      val z =
        if (na > 1 && nb > 1) {
          val va = (qa.toDouble - sa.toDouble * sa / na) / (na - 1) / na
          val vb = (qb.toDouble - sb.toDouble * sb / nb) / (nb - 1) / nb
          if (va + vb > 0)
            Some(r6((sa.toDouble / na - sb.toDouble / nb) / math.sqrt(va + vb)))
          else None
        } else None
      (meanDiff, z, z.map(v => math.abs(v) > 2.797))
    }

    override protected def finalizeBelow(key: String, merged: AbState,
        wm: Long): (Iterator[DayZ], AbState) = {
      val (done, open) = merged.pending.partition(p => (p.day + 1) * DayMs <= wm)
      val out = Seq.newBuilder[DayZ]
      var (na, sa, qa, nb, sb, qb) =
        (merged.na, merged.sa, merged.qa, merged.nb, merged.sb, merged.qb)
      done.sortBy(_.day).foreach { p =>
        na += p.naD; sa += p.saD; qa += p.qaD
        nb += p.nbD; sb += p.sbD; qb += p.qbD
        val (md, z, sig) = stats(na, sa, qa, nb, sb, qb)
        out += DayZ(p.day, na, nb, md, z, sig)
      }
      val newTimer = if (open.nonEmpty) (open.map(_.day).min + 1) * DayMs else 0L
      (out.result().iterator, AbState(na, sa, qa, nb, sb, qb, open, newTimer))
    }

    override protected def buffer(prev: AbState, rows: Iterator[Ev]): AbState = {
      val add = rows.foldLeft(Map.empty[Long, Pend]) { (m, e) =>
        val d = math.floorDiv(e.ts.getTime, DayMs)
        val c = cents(e.value)
        val p = m.getOrElse(d, Pend(d, 0L, 0L, 0L, 0L, 0L, 0L))
        val np = if (e.user_id % 2 == 0)
          p.copy(naD = p.naD + 1, saD = p.saD + c, qaD = p.qaD + c * c)
        else p.copy(nbD = p.nbD + 1, sbD = p.sbD + c, qbD = p.qbD + c * c)
        m.updated(d, np)
      }
      val mergedPending = (prev.pending.map(p => p.day -> p) ++ add.toSeq)
        .groupBy(_._1).map { case (d, xs) =>
          xs.map(_._2).reduce { (x, y) =>
            Pend(d, x.naD + y.naD, x.saD + y.saD, x.qaD + y.qaD,
              x.nbD + y.nbD, x.sbD + y.sbD, x.qbD + y.qbD)
          }
        }.toSeq
      prev.copy(pending = mergedPending)
    }
  }

  /** events → append stream of day-finalized cumulative A/B z decisions.
    * The watermark is taken on the full stream (so non-purchase traffic
    * advances it), purchases alone feed the single-key monitor state. */
  def dayZ(events: Dataset[Ev], delay: String = "1 hour"): Dataset[DayZ] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", delay)
      .filter(_.event_type == "purchase")
      .groupByKey(_ => "ab")
      .transformWithState(new AbProcessor, TimeMode.EventTime(), OutputMode.Append())
  }
}
