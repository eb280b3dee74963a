package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{Next, Rearm, Remove}

/** Streaming gap / outage detection — the streaming face of
  * TimeSeries.qTsGaps: per series (event_type), emit every silence longer
  * than 60 minutes between consecutive events as a closed
  * (gap_start, gap_end) interval.
  *
  * A gap is a claim about ABSENCE, so an endpoint pair is only final when
  * no admissible event can still land inside it: once the watermark
  * reaches `b`, nothing can arrive at-or-before `b` anymore, so the pair
  * (a, b) of then-consecutive buffered timestamps is sealed — emit it if
  * b − a > threshold. Out-of-order (but watermark-legal) events landing
  * between two buffered points split their would-be gap, which is why the
  * state buffers the unsealed tail instead of keeping just a `lag`-style
  * last-timestamp (that shape silently emits wrong gaps under disorder).
  *
  * State per series is the timestamps newer than the last sealed point —
  * bounded by the watermark horizon (events/series within ~10 min), plus
  * one carry element, the left end of the next gap, which stays for the
  * series' lifetime.
  *
  * Scale note: parallelism equals the number of series. For a feed with
  * few, very hot series, shard the stream by (series, time-chunk) and
  * stitch chunk edges downstream — the batch TimeSeries.qTsGaps does
  * exactly that with its day-chunk + edge-summary split; this face stays
  * correct at any key cardinality but is the simple-keyed shape.
  */
object StatefulGaps {

  case class GapState(pending: Seq[Long]) // µs timestamps, unsealed tail
  case class ClosedGap(event_type: String, gap_start_us: Long, gap_end_us: Long, gap_s: Long)

  /** 60 minutes, matching the batch twin. */
  val thresholdUs: Long = SealedFold.HourUs

  /** Pure merge-and-seal: given the unsealed timestamps and the watermark,
    * return (final gaps, carry). A consecutive pair (a, b) is final once
    * b < wm (strict: an event AT the watermark is still admissible). The
    * carry keeps the last left-endpoint plus everything unsealed — the
    * left end of a future gap is always retained. */
  private[graft] def seal(ts: Seq[Long], wmUs: Long): (Seq[(Long, Long)], Seq[Long]) = {
    val sorted = ts.distinct.sorted
    if (sorted.isEmpty) return (Nil, Nil)
    val gaps = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i + 1 < sorted.length && sorted(i + 1) < wmUs) {
      if (sorted(i + 1) - sorted(i) > thresholdUs) gaps += ((sorted(i), sorted(i + 1)))
      i += 1
    }
    (gaps.toSeq, sorted.drop(i))
  }

  private[graft] def gapize(key: String, st: GapState,
                            events: Iterator[(String, java.sql.Timestamp, Long)],
                            wmUs: Long): (Next[GapState], Iterator[ClosedGap]) = {
    val (gaps, carry) = seal(st.pending ++ events.map(_._3), wmUs)
    // gap_s mirrors the batch twin's exact integer µs→s floor-diff
    (if (carry.nonEmpty) Rearm(GapState(carry)) else Remove,
      gaps.iterator.map { case (a, b) => ClosedGap(key, a, b, b / 1000000L - a / 1000000L) })
  }

  /** Streaming face: `events` must carry a watermarked TimestampType `ts`
    * (kept in the tuple so event-time timeouts are allowed). Keyed by
    * event_type. */
  def gapsStream(events: DataFrame): Dataset[ClosedGap] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr("event_type", "ts", "unix_micros(ts) as us")
      .as[(String, java.sql.Timestamp, Long)])(_._1, GapState(Nil))(gapize)
  }
}
