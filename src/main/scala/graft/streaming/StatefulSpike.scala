package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.operators.Num
import SealedFold.{DayUs, Grid0Us, HourUs, Next, Rearm}

/** Streaming week-over-week spike detection — the live face of
  * Sre.qTsSpikeRatio: each (event_type, hour-of-day) cell's daily count
  * compares against the mean of the SAME hour over the previous 7
  * calendar days, sealed per day under the watermark.
  *
  * State per (type, hod) key is a day-index → count map over the grid
  * (absent days are real zeros, exactly like the batch query's gap-filled
  * calendar): a cell seals when the watermark passes ITS hour's end on
  * that day, at which point its 7 predecessor cells sealed a day or more
  * ago and the baseline is final — so each emission is exact and
  * exactly-once (`sealedThrough` advances monotonically; days older than
  * the baseline window evict, bounding state at 8 entries + the open
  * tail). Each new seal's baseline is the RING of trailing sealed days.
  */
object StatefulSpike {

  case class SpikeState(sealedThrough: Long, counts: Map[Long, Long])
  case class SpikeRow(event_type: String, dday: java.sql.Date, hod: Long,
                      x: Long, base: Double, ratio: Double, spike: Long)

  private[graft] def seal(key: (String, Long), st: SpikeState,
                          events: Iterator[(String, Long, Long, java.sql.Timestamp)], // (type, hod, dayIdx, ts)
                          wmUs: Long): (Next[SpikeState], Iterator[SpikeRow]) = {
    val counts = SealedFold.tally(st.counts, events.map(_._3))
    val (etype, hod) = key
    val cells = SealedFold.sealCells(st.sealedThrough, counts, wmUs)(
      d => Grid0Us + d * DayUs + (hod + 1L) * HourUs)
    val out = cells.flatMap { case (d, x) =>
      // the 7 predecessor cells sealed earlier; absent days are zeros
      val s7 = (d - 7 to d - 1).map(counts.getOrElse(_, 0L)).sum
      if (d >= 7 && s7 > 0) {
        val base = Num.rounddD(s7.toDouble / 7.0, 4)
        val ratio = Num.rounddD(x.toDouble * 7.0 / s7.toDouble, 4)
        Some(SpikeRow(etype,
          java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(d)),
          hod, x, base, ratio, if (ratio >= 2.0) 1L else 0L))
      } else None
    }
    val sealedThrough = st.sealedThrough + cells.length
    // evict everything older than the newest baseline window
    (Rearm(SpikeState(sealedThrough, counts.filter { case (day, _) => day >= sealedThrough - 7 })),
      out.iterator)
  }

  /** `events` must carry a watermarked TimestampType `ts`. */
  def spikeStream(events: DataFrame): Dataset[SpikeRow] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr(
        "event_type",
        s"unix_micros(ts) % $DayUs div $HourUs as hod",
        s"(unix_micros(ts) - ${Grid0Us}L) div $DayUs as day_idx",
        "ts")
      .as[(String, Long, Long, java.sql.Timestamp)])(e => (e._1, e._2), SpikeState(-1L, Map.empty))(seal)
  }
}
