package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{Next, Rearm, RearmAt, Remove}

/** Streaming token-bucket admission control — the live face of
  * Sre.qTsRateLimit (2 tokens per user, 1 per 2 h, exact integer-µs
  * credit).
  *
  * Admission is ORDER-SENSITIVE state (an early event can drain the
  * token a later one needed), so a decision is only correct once no
  * earlier event can still arrive: arrivals buffer in state and the fold
  * runs — in event-time order — over exactly the prefix the watermark
  * has sealed. A naive process-on-arrival limiter gives arrival-order
  * answers that disagree with the batch replay whenever the feed is out
  * of order (which is exactly when quotas matter).
  *
  * State per user: the O(1) (credit, last) pair plus the not-yet-sealed
  * tail of arrivals — bounded by the watermark delay × per-user rate,
  * NOT by history. Decisions for sealed events equal the batch fold
  * prefix exactly (StreamParitySpec, ordered + jittered replay).
  */
object StatefulRateLimit {

  val CapacityUs: Long = 14400000000L // 2 tokens x 2h, in µs of refill
  val CostUs: Long = 7200000000L      // 1 token = 2h

  case class RlState(creditUs: Long, lastUs: Long, pending: List[(Long, Long)])
  case class Decision(user_id: Long, event_id: Long, tus: Long, admitted: Boolean)

  private[graft] def admit(key: Long, st: RlState,
                           events: Iterator[(Long, Long, java.sql.Timestamp, Long)], // (user_id, event_id, ts, tus)
                           wmUs: Long): (Next[RlState], Iterator[Decision]) = {
    val incoming = events.map(e => (e._4, e._2)).toList // (tus, event_id)
    val (ready, rest) = (st.pending ++ incoming).sorted.partition(_._1 < wmUs)
    var credit = st.creditUs
    var last = st.lastUs
    val out = ready.map { case (tus, id) =>
      if (last >= 0L) credit = math.min(CapacityUs, credit + (tus - last))
      last = tus
      val ok = credit >= CostUs
      if (ok) credit -= CostUs
      Decision(key, id, tus, ok)
    }
    // A fully-refilled idle bucket is indistinguishable from the initial
    // state (any future event tops credit up to CapacityUs before the
    // first charge), so drop it instead of keeping one entry per user
    // ever seen — state size stays bounded by the *active* user set.
    val backAtFull = last < 0L || wmUs - last >= CapacityUs - credit
    val next =
      if (rest.isEmpty && backAtFull) Remove
      // the buffered tail seals as the watermark advances
      else if (rest.nonEmpty) Rearm(RlState(credit, last, rest))
      // idle but not yet refilled: re-fire once the bucket is provably
      // full again so the entry self-removes without another event
      else RearmAt(RlState(credit, last, rest), (last + (CapacityUs - credit)) / 1000 + 1)
    (next, out.iterator)
  }

  /** `events` must carry a watermarked TimestampType `ts`. */
  def rateLimitStream(events: DataFrame): Dataset[Decision] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr("user_id", "event_id", "ts", "unix_micros(ts) as tus")
      .as[(Long, Long, java.sql.Timestamp, Long)])(_._1, RlState(CapacityUs, -1L, Nil))(admit)
  }
}
