package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{Next, RearmAt, Remove}

/** Custom-state sessionization — for semantics that `session_window`
  * can't express (here it CAN, which is the point: three independent
  * implementations of the same 30-minute-gap rule — gaps-and-islands
  * windows (batch), native session_window (stream), and this explicit
  * state machine — must agree, and the parity suite holds them to it).
  *
  * State per user: the OPEN session intervals (start, last-seen, count),
  * µs epochs, sorted by start, pairwise more than `gap` apart. Plural,
  * because an out-of-order event that is legal under the watermark may
  * precede the newest session by more than the gap — it then opens a
  * separate earlier interval which later events (also legal under the
  * watermark) can still extend or bridge. Each microbatch merges its
  * events into the interval list (classic interval merge on the sorted
  * union); a session is emitted ONLY once the watermark has passed
  * (last + gap) — at that point no admissible future event can extend it
  * backward or forward, or bridge it to a neighbor, so what is emitted is
  * exactly what the batch gaps-and-islands formulation computes. A timer
  * at the earliest deadline closes idle sessions without new data, and a
  * user with no open session has no state — state stays bounded by the
  * watermark, the only shape that survives an unbounded feed.
  */
object StatefulSessions {

  case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  case class SessionsState(open: Seq[OpenSession])
  case class ClosedSession(user_id: Long, s_start_us: Long, n_events: Long, dur_s: Long)

  val gapUs: Long = 30L * 60 * 1000000
  private val gapMs: Long = gapUs / 1000

  private def close(userId: Long, s: OpenSession): ClosedSession =
    ClosedSession(userId, s.startUs, s.n,
      s.lastUs / 1000000 - s.startUs / 1000000)

  /** Merge new event times into the disjoint interval list: sort the union
    * by start, fold, join any neighbor within `gap` (an event inside an
    * existing span has start - last <= 0 and merges too). Linear in
    * (intervals + events) after the sort. */
  private[graft] def merge(intervals: Seq[OpenSession], ts: Array[Long]): Seq[OpenSession] = {
    val all = (intervals ++ ts.map(t => OpenSession(t, t, 1)))
      .sortBy(s => (s.startUs, s.lastUs))
    all.foldLeft(List.empty[OpenSession]) { (acc, s) =>
      acc match {
        case h :: rest if s.startUs - h.lastUs <= gapUs =>
          OpenSession(h.startUs, math.max(h.lastUs, s.lastUs), h.n + s.n) :: rest
        case _ => s :: acc
      }
    }.reverse
  }

  private[graft] def sessionize(userId: Long, st: SessionsState,
                                events: Iterator[(Long, java.sql.Timestamp, Long)],
                                wmUs: Long): (Next[SessionsState], Iterator[ClosedSession]) = {
    val wmMs = wmUs / 1000
    val intervals = merge(st.open, events.map(_._3).toArray.sorted)
    // Emit iff watermark passed (last + gap): any future event has
    // ts_ms >= wmMs > last + gap >= start + gap, so it can neither extend
    // this interval (either direction) nor bridge it to the next one.
    val (closed, stillOpen) = intervals.partition(s => s.lastUs / 1000 + gapMs < wmMs)
    (if (stillOpen.isEmpty) Remove
     else RearmAt(SessionsState(stillOpen), stillOpen.map(_.lastUs / 1000 + gapMs).min),
      closed.map(close(userId, _)).iterator)
  }

  /** Streaming face: events must carry a watermarked TimestampType `ts`
    * (the watermarked column must survive into the stateful operator's
    * input row for event-time timeouts to be allowed — hence ts rides
    * along beside its µs projection). */
  def sessionsStream(events: DataFrame): Dataset[ClosedSession] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr("user_id", "ts", "unix_micros(ts) as us")
      .as[(Long, java.sql.Timestamp, Long)])(_._1, SessionsState(Nil))(sessionize)
  }
}
