package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{Grid0Us, HourUs, Next, Rearm, gridHour}

/** Streaming hysteresis burst detector — the live face of
  * Change.burstCausalEpisodes: per event_type over the sealed hourly
  * grid, enter a burst when the hour's count exceeds 1.5× the RUNNING
  * mean (exact-integer cross-multiplication 2·c·n > 3·S), hold through
  * in-between hours, exit (and EMIT the closed episode) when a
  * below-running-mean hour seals — the Schmitt-trigger alerting shape
  * with only causal state, so the stream needs nothing the batch twin
  * doesn't derive from the same prefix.
  *
  * A cell seals when the watermark passes its hour end; absent hours
  * seal as real zeros. State is the open tail's counts plus FIVE longs
  * and a flag — bounded regardless of stream length; sealed hours evict.
  * Every compare is exact integer arithmetic, so an emitted episode is
  * bit-equal to its batch twin (append-mode exactly-once: episodes emit
  * exactly when their closing hour seals).
  */
object StatefulBurst {

  case class BState(sealedThrough: Long, counts: Map[Long, Long], sc: Long,
                    inBurst: Boolean, start: Long, peak: Long, total: Long, len: Long)
  case class BurstRow(event_type: String, start_h: java.sql.Timestamp,
                      end_h: java.sql.Timestamp, n_hours: Long, peak: Long, total: Long)

  private[graft] def seal(key: String, st: BState,
                          events: Iterator[(String, Long, java.sql.Timestamp)], // (type, hourIdx, ts)
                          wmUs: Long): (Next[BState], Iterator[BurstRow]) = {
    val counts = SealedFold.tally(st.counts, events.map(_._2))
    val cells = SealedFold.sealCells(st.sealedThrough, counts, wmUs)(x => Grid0Us + (x + 1) * HourUs)
    var sc = st.sc; var inB = st.inBurst; var start = st.start
    var peak = st.peak; var total = st.total; var len = st.len
    val out = scala.collection.mutable.ArrayBuffer.empty[BurstRow]
    cells.foreach { case (x, c) =>
      sc += c
      val n = x + 1
      val mark = if (2L * c * n > 3L * sc) 1L else if (c * n < sc) -1L else 0L
      if (!inB && mark == 1L) {
        inB = true; start = x; peak = c; total = c; len = 1L
      } else if (inB && mark >= 0L) {
        len += 1L; total += c; peak = math.max(peak, c)
      } else if (inB && mark == -1L) {
        out += BurstRow(key, gridHour(start), gridHour(x - 1), len, peak, total)
        inB = false
      }
    }
    (Rearm(BState(st.sealedThrough + cells.length, counts -- cells.map(_._1),
      sc, inB, start, peak, total, len)), out.iterator)
  }

  /** `events` must carry a watermarked TimestampType `ts`. */
  def burstStream(events: DataFrame): Dataset[BurstRow] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr(
        "event_type",
        s"(unix_micros(ts) - ${Grid0Us}L) div $HourUs as hour_idx",
        "ts")
      .as[(String, Long, java.sql.Timestamp)])(
      _._1, BState(-1L, Map.empty, 0L, inBurst = false, -1L, 0L, 0L, 0L))(seal)
  }
}
