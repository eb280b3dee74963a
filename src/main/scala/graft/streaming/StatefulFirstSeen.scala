package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{Hold, Next, Rearm, Untouched}

/** Streaming first-seen screen — the ingest face of Ops.qTsNewSeries:
  * admit exactly one event per series (user_id), the one with the
  * EARLIEST event time, so downstream day-rollups of series churn match
  * the batch `min(ts)` definition.
  *
  * "First" is a claim about event time under out-of-order arrival, so an
  * admission seals only when the watermark passes the current candidate:
  * after that, every still-admissible arrival has ts ≥ watermark >
  * candidate and cannot predate it. A `dropDuplicates(user_id)` screen —
  * the obvious shape — admits the first ARRIVAL instead, which
  * misassigns the series' first day whenever its true first event rides a
  * later microbatch; the candidate-and-seal state is what makes the
  * stream equal the batch twin, not merely approximate it.
  *
  * State per series: one (sealed, candidate) pair that persists for the
  * series' lifetime — first-seen is inherently permanent state, the same
  * cardinality the TSDB's series index already carries. At 100 TB the
  * sealed set swaps into a Bloom filter (the ingest-time GDPR index
  * machinery): false positives suppress a real first at the fp rate but
  * can never admit a duplicate, the safe direction for churn metrics.
  */
object StatefulFirstSeen {

  case class FirstState(isSealed: Boolean, candidateUs: Long)
  case class FirstSeen(user_id: Long, first_us: Long)

  private[graft] def screen(key: Long, st: FirstState,
                            events: Iterator[(Long, java.sql.Timestamp, Long)],
                            wmUs: Long): (Next[FirstState], Iterator[FirstSeen]) =
    if (st.isSealed) (Untouched, Iterator.empty) // later events of a known series
    else {
      var cand = st.candidateUs
      events.foreach(e => if (e._3 < cand) cand = e._3)
      // no admissible arrival can now be earlier — the candidate IS first
      if (cand < wmUs) (Hold(FirstState(isSealed = true, cand)), Iterator.single(FirstSeen(key, cand)))
      else (Rearm(FirstState(isSealed = false, cand)), Iterator.empty)
    }

  /** `events` must carry a watermarked TimestampType `ts`. */
  def firstSeenStream(events: DataFrame): Dataset[FirstSeen] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr("user_id", "ts", "unix_micros(ts) as us")
      .as[(Long, java.sql.Timestamp, Long)])(_._1, FirstState(isSealed = false, Long.MaxValue))(screen)
  }
}
