package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.operators.Num
import SealedFold.{Grid0Us, HourUs, Next, Rearm, gridHour}

/** Streaming Page–Hinkley drift detector — the live face of
  * Change.qTsPageHinkley: per event_type, the PH statistic over the
  * gapless hourly count grid, sealed hour by hour under the watermark.
  *
  * A cell seals when the watermark passes its hour end; ABSENT hours
  * seal as real zeros (the batch panel's gap-fill — the walk covers
  * every grid hour, not just observed ones), so the stream's running
  * (n, Σc, m, min m) fold replays the batch trace term for term. The
  * per-hour term is the ONE double — (c − mean − δ) rounded once to
  * micro-unit longs, the identical IEEE sequence as the batch plan —
  * after which the fold is exact integer arithmetic, so a sealed row is
  * bit-equal to its batch twin, exactly-once (sealedThrough advances
  * monotonically; sealed hours evict, bounding state at the open tail).
  */
object StatefulPh {

  private val DELTA = 0.5
  private val LAMBDA_MICRO = 100L * 1000000L

  case class PhState(sealedThrough: Long, counts: Map[Long, Long],
                     cx: Long, m: Long, runmin: Long)
  case class PhRow(event_type: String, h: java.sql.Timestamp, ph: Double, alarm: Long)

  private[graft] def seal(key: String, st: PhState,
                          events: Iterator[(String, Long, java.sql.Timestamp)], // (type, hourIdx, ts)
                          wmUs: Long): (Next[PhState], Iterator[PhRow]) = {
    val counts = SealedFold.tally(st.counts, events.map(_._2))
    val cells = SealedFold.sealCells(st.sealedThrough, counts, wmUs)(x => Grid0Us + (x + 1) * HourUs)
    var cx = st.cx; var m = st.m; var runmin = st.runmin
    val out = cells.map { case (x, c) =>
      val n = x + 1
      cx += c
      // identical IEEE sequence as the batch plan: (c − cx/n − δ)·1e6,
      // rounded half-away once, then the exact integer fold
      val t6 = Num.rounddD((c.toDouble - cx.toDouble / n.toDouble - DELTA) * 1e6, 0).toLong
      m += t6
      runmin = if (n == 1) m else math.min(runmin, m)
      val ph = m - runmin
      // the batch twin's display round of ph/1e6
      PhRow(key, gridHour(x), Num.rounddD(ph.toDouble / 1e6, 6), if (ph > LAMBDA_MICRO) 1L else 0L)
    }
    (Rearm(PhState(st.sealedThrough + cells.length, counts -- cells.map(_._1), cx, m, runmin)),
      out.iterator)
  }

  /** `events` must carry a watermarked TimestampType `ts`. */
  def phStream(events: DataFrame): Dataset[PhRow] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr(
        "event_type",
        s"(unix_micros(ts) - ${Grid0Us}L) div $HourUs as hour_idx",
        "ts")
      .as[(String, Long, java.sql.Timestamp)])(_._1, PhState(-1L, Map.empty, 0L, 0L, 0L))(seal)
  }
}
