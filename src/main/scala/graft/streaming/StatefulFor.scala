package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import SealedFold.{Next, Rearm}

/** Streaming for-duration alert lifecycle — the streaming face of
  * Ops.qTsAlertTransitions and the stateful sibling of [[StatefulAlerts]]:
  * per series (event_type), an alert FIRES when the hourly sum has
  * breached the threshold for `forN` CONSECUTIVE sealed hours (Prometheus
  * `for:` semantics — one fire per sustained episode, not one per breach
  * hour), and RESOLVES at the first sealed non-breach hour while firing.
  *
  * Consecutive means adjacent PRESENT hours, matching the batch twin's
  * windows over existing hourly rows. Hours seal strictly under the
  * watermark in time order, with sums that do not depend on arrival
  * order, so every transition is replay-order-independent.
  *
  * State per series: the open hours' buffered points (watermark-horizon
  * bounded) plus two scalars (streak, firing) — the whole alert
  * lifecycle lives in O(open window) state, no closed-hour history is
  * retained.
  */
object StatefulFor {

  case class ForState(
      open: Seq[(Long, Long, Long, Double)], // (hourUs, us, event_id, value)
      streak: Long,
      firing: Boolean)
  case class Transition(event_type: String, kind: String, hour_us: Long, sv: Double)

  /** Catalog defaults, matching the batch twin. */
  val defaultThreshold = 800.0
  val defaultForN = 3

  /** Drives the streak/firing machine over the sealed hours in time order. */
  private def forize(threshold: Double, forN: Int)(
      key: String, st: ForState,
      events: Iterator[(String, java.sql.Timestamp, Long, Long, Double)],
      wmUs: Long): (Next[ForState], Iterator[Transition]) = {
    val (hours, carry) = SealedFold.sealHourSums(st.open, events.map(e => (e._3, e._4, e._5)), wmUs)
    var streak = st.streak
    var firing = st.firing
    val transitions = hours.flatMap { case (h, sv) =>
      if (sv > threshold) {
        streak += 1
        if (!firing && streak == forN) {
          firing = true
          Some(Transition(key, "fire", h, sv))
        } else None
      } else {
        val resolve = if (firing) Some(Transition(key, "resolve", h, sv)) else None
        firing = false
        streak = 0
        resolve
      }
    }
    (Rearm(ForState(carry, streak, firing)), transitions.iterator)
  }

  /** Streaming face: `events` must carry a watermarked TimestampType `ts`.
    * Keyed by event_type (see StatefulGaps for the low-cardinality-key
    * sharding note). */
  def forStream(events: DataFrame,
                threshold: Double = defaultThreshold,
                forN: Int = defaultForN): Dataset[Transition] = {
    val s = events.sparkSession
    import s.implicits._
    SealedFold(events.selectExpr("event_type", "ts", "unix_micros(ts) as us", "event_id", "value")
      .as[(String, java.sql.Timestamp, Long, Long, Double)])(
      _._1, ForState(Nil, 0L, firing = false))(forize(threshold, forN))
  }
}
