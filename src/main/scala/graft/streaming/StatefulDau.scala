package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{DayUs, Hold, Next, Rearm, Untouched}

/** Streaming EXACT daily-distinct-users — the "DAU live" panel, sealed
  * per day under the watermark: one fold keyed by epoch DAY, whose
  * state is the day's user-id set; when the watermark passes the day
  * boundary no admissible arrival can still land in the day, so the
  * count seals and emits exactly once.
  *
  * Why not chained stateful operators (dedup → windowed count):
  * `dropDuplicatesWithinWatermark` only guarantees dedup WITHIN the
  * watermark delay — a user active at 09:00 and 15:00 re-admits after
  * the morning state evicts and the day double-counts them. Day-keyed
  * set state is the semantics the panel actually means, with state
  * lifetime = one day + watermark, evicted at seal.
  *
  * Scale: state per key is the day's distinct-user set (exact, the same
  * cardinality the batch distinct pays in its shuffle); at 100 TB the
  * set swaps for the KMV/HLL sketch tier — same operator shape, sealed
  * estimate instead of exact count. Keys are days, so parallelism wants
  * (day × sub-key) salting on a real cluster; the emission merge is one
  * tiny rollup of the salted seals.
  */
object StatefulDau {

  case class DauState(isSealed: Boolean, users: Set[Long])
  case class DayUsers(dayUs: Long, n_users: Long)

  private[graft] def seal(dayUs: Long, st: DauState,
                          events: Iterator[(Long, Long, java.sql.Timestamp)], // (dayUs, user_id, ts)
                          wmUs: Long): (Next[DauState], Iterator[DayUsers]) =
    if (st.isSealed) (Untouched, Iterator.empty) // late stragglers of a sealed day
    else {
      val users = st.users ++ events.map(_._2)
      // watermark passed end-of-day: the set is complete — seal and shed
      // the user set (the sealed flag alone suppresses stragglers)
      if (wmUs >= dayUs + DayUs)
        (Hold(DauState(isSealed = true, Set.empty)), Iterator.single(DayUsers(dayUs, users.size.toLong)))
      else (Rearm(DauState(isSealed = false, users)), Iterator.empty)
    }

  /** `events` must carry a watermarked TimestampType `ts` and `user_id`. */
  def dauStream(events: DataFrame): Dataset[DayUsers] = {
    val s = events.sparkSession
    import s.implicits._
    // `ts` rides along: the watermark is attached to the event-time
    // column, and the event-time timeout requires it in the fold's input
    SealedFold(events
      .selectExpr(s"unix_micros(ts) div $DayUs * $DayUs as day_us", "user_id", "ts")
      .as[(Long, Long, java.sql.Timestamp)])(_._1, DauState(isSealed = false, Set.empty))(seal)
  }
}
