package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{Next, Rearm}

/** Streaming threshold-crossing alerts — the streaming face of
  * TimeSeries.qTsThresholdCross: fire when a series' hourly sum CROSSES
  * above the level (prev ≤ T < curr), not on every hour it stays above.
  *
  * A crossing compares two CONSECUTIVE closed hours, so an hour may only
  * be judged once the watermark passes its end (its sum is final) AND its
  * predecessor's final sum is known. State per series is the open hours'
  * buffered points (watermark-horizon bounded) plus the last sealed
  * hour's (hour, sum) carry — the alert fires exactly when the batch
  * lag-form would, held equal by StreamParitySpec under ordered and
  * jittered replay. Consecutive means adjacent PRESENT hours, matching
  * the batch twin's lag over existing hourly rows (an empty hour between
  * two present ones does not reset the comparison).
  */
object StatefulAlerts {

  case class AlertState(
      open: Seq[(Long, Long, Long, Double)], // (hourUs, us, event_id, value)
      lastSealed: Option[(Long, Double)])    // (hourUs, rounded sum)
  case class Crossing(event_type: String, hour_us: Long, prev_sv: Double, sv: Double)

  /** Catalog default, matching the batch twin. */
  val defaultThreshold = 400.0

  private def alertize(threshold: Double)(
      key: String, st: AlertState,
      events: Iterator[(String, java.sql.Timestamp, Long, Long, Double)],
      wmUs: Long): (Next[AlertState], Iterator[Crossing]) = {
    val (hours, carry) = SealedFold.sealHourSums(st.open, events.map(e => (e._3, e._4, e._5)), wmUs)
    var last = st.lastSealed
    val crossings = hours.flatMap { case (h, sv) =>
      val c = last.collect { case (_, prev) if prev <= threshold && sv > threshold => Crossing(key, h, prev, sv) }
      last = Some((h, sv))
      c
    }
    (Rearm(AlertState(carry, last)), crossings.iterator)
  }

  /** Streaming face: `events` must carry a watermarked TimestampType `ts`.
    * Keyed by event_type (see StatefulGaps for the low-cardinality-key
    * sharding note — the same applies here). */
  def alertsStream(events: DataFrame, threshold: Double = defaultThreshold): Dataset[Crossing] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr("event_type", "ts", "unix_micros(ts) as us", "event_id", "value")
      .as[(String, java.sql.Timestamp, Long, Long, Double)])(_._1, AlertState(Nil, None))(alertize(threshold))
  }
}
