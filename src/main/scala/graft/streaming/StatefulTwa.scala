package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{DayUs, Next, RearmAt, Remove}

/** Streaming time-weighted average — the streaming face of
  * TimeSeries.qTsTwa (SURVEY §2.1-K): per (user, day),
  * TWA = Σ value·dt / Σ dt over consecutive-event segments ordered by
  * (ts, event_id), where the day's last point contributes no segment.
  *
  * TWA is NOT an unordered-mergeable aggregate: a segment's dt pairs each
  * point with its time-successor, so a late (but watermark-legal) event
  * landing BETWEEN two already-seen points splits their segment and
  * changes two dt terms. The only exact shape under out-of-order arrival
  * is to buffer the open day's points and integrate at close — state is
  * O(points per user-day), bounded because the watermark closes days:
  * once wm ≥ day end, no admissible event can land in the day, the group
  * emits exactly what the batch lead()-formulation computes, and its
  * state is freed (a timer at day end closes days whose users go quiet,
  * so state never outlives the watermark).
  */
object StatefulTwa {

  /** (us, event_id, value) triples of the open day, unordered. */
  case class TwaState(points: Seq[(Long, Long, Double)])
  case class ClosedTwa(user_id: Long, day_us: Long, n_seg: Long, twa: Double)

  /** Sort by (us, event_id) — the batch twin's window order — and
    * integrate pairwise segments. Returns (n_seg, twa). */
  private[graft] def integrate(points: Seq[(Long, Long, Double)]): (Long, Double) = {
    val sorted = points.sortBy(p => (p._1, p._2)).toArray
    var sumVdt = 0.0
    var sumDt = 0.0
    var i = 0
    while (i < sorted.length - 1) {
      val dt = (sorted(i + 1)._1 - sorted(i)._1).toDouble
      sumVdt += sorted(i)._3 * dt
      sumDt += dt
      i += 1
    }
    (math.max(0, sorted.length - 1).toLong, if (sumDt > 0) sumVdt / sumDt else Double.NaN)
  }

  private[graft] def twaize(key: (Long, Long), st: TwaState,
                            events: Iterator[(Long, java.sql.Timestamp, Long, Long, Long, Double)],
                            wmUs: Long): (Next[TwaState], Iterator[ClosedTwa]) = {
    val pts = st.points ++ events.map(e => (e._4, e._5, e._6))
    val dayEndMs = (key._2 + DayUs) / 1000
    if (dayEndMs <= wmUs / 1000) {
      // watermark passed day end: every admissible event has arrived
      val (nSeg, twa) = integrate(pts)
      // a single-point day has no segment — the batch twin (WHERE dt IS
      // NOT NULL) drops it, so the stream emits nothing either
      (Remove, if (nSeg > 0) Iterator.single(ClosedTwa(key._1, key._2, nSeg, twa)) else Iterator.empty)
    } else (RearmAt(TwaState(pts), dayEndMs), Iterator.empty)
  }

  /** Streaming face: `events` must carry a watermarked TimestampType `ts`
    * (kept in the tuple so event-time timeouts are allowed). Keyed by
    * (user_id, day start µs). */
  def twaStream(events: DataFrame): Dataset[ClosedTwa] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr(
        "user_id", "ts",
        "unix_micros(date_trunc('DAY', ts)) as day_us",
        "unix_micros(ts) as us", "event_id", "value")
      .as[(Long, java.sql.Timestamp, Long, Long, Long, Double)])(r => (r._1, r._3), TwaState(Nil))(twaize)
  }
}
