package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Num

/** The watermark-sealed keyed fold behind every `Stateful*` operator and
  * [[StreamAsof]], and the one place in graft that touches `GroupState`:
  * per key, buffer what the watermark has not sealed yet, seal what it
  * has passed, and emit each sealed result once (append mode). This is
  * the event-time watermark / per-key state / timeout contract of
  * Structured Streaming (SIGMOD 2018), implemented once.
  *
  * A step gets the key, its state (`init` for a new key), the key's new
  * rows and the watermark in µs. When an event-time timer fires, Spark
  * passes no rows, so a step never needs to ask whether it timed out. It
  * returns the rows to emit and one [[Next]] outcome for the state.
  * [[Untouched]] writes nothing, so Spark puts no state row for the key.
  * That is the hot path of a sealed key that receives stragglers; storing
  * the same value again would cost one state-store put per key per batch.
  */
object SealedFold {

  val HourUs: Long = 3600L * 1000000
  val DayUs: Long = 24 * HourUs
  /** Origin of the gapless hour and day grids, identical to the batch panels. */
  val Grid0Us: Long = 1704067200000000L // 2024-01-01 00:00:00 UTC

  /** What a step does with its key's state. */
  sealed trait Next[+S]
  /** Store `s` and fire again as soon as the watermark advances. */
  final case class Rearm[S](s: S) extends Next[S]
  /** Store `s` and fire again once the watermark passes `timerMs`. An
    * event-time timer must lie beyond the current watermark, so it is
    * clamped to at least watermark + 1 ms. */
  final case class RearmAt[S](s: S, timerMs: Long) extends Next[S]
  /** Store `s` with no timer: the key waits for nothing but new rows. */
  final case class Hold[S](s: S) extends Next[S]
  /** Drop the key's state. */
  case object Remove extends Next[Nothing]
  /** No update, no remove, no timer change. */
  case object Untouched extends Next[Nothing]

  /** (key, state, new rows, watermark µs) => (outcome, rows to emit) */
  type Step[K, R, S, O] = (K, S, Iterator[R], Long) => (Next[S], Iterator[O])

  /** Groups `rows` by `key` and runs `step` per key under an event-time
    * timeout. `rows` must carry the watermarked event-time column. */
  def apply[R, K: Encoder, S: Encoder, O: Encoder](rows: Dataset[R])(key: R => K, init: S)(
      step: Step[K, R, S, O]): Dataset[O] =
    rows.groupByKey(key).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(run(init, step))

  /** One call of `step` for one key, with its outcome applied to `state`. */
  private[graft] def run[K, R, S, O](init: S, step: Step[K, R, S, O])(
      key: K, rows: Iterator[R], state: GroupState[S]): Iterator[O] = {
    val wmMs = state.getCurrentWatermarkMs()
    val (next, out) = step(key, state.getOption.getOrElse(init), rows, wmMs * 1000)
    next match {
      case Rearm(s) =>
        state.update(s)
        state.setTimeoutTimestamp(wmMs + 1)
      case RearmAt(s, timerMs) =>
        state.update(s)
        state.setTimeoutTimestamp(math.max(timerMs, wmMs + 1))
      case Hold(s) => state.update(s)
      case Remove => state.remove()
      case Untouched => ()
    }
    out
  }

  /** Alerts and For: appends new (us, event_id, value) points to the open
    * (hourUs, us, event_id, value) buffer, then seals every hour that ends
    * below the watermark. A sealed hour sums its points in (us, event_id)
    * order, the batch engine's sort order, so the sum does not depend on
    * arrival order; it is rounded to 2 dp like the batch twins. Returns
    * the sealed (hourUs, sum) in hour order and the still-open buffer. */
  def sealHourSums(open: Seq[(Long, Long, Long, Double)], rows: Iterator[(Long, Long, Double)],
                   wmUs: Long): (Seq[(Long, Double)], Seq[(Long, Long, Long, Double)]) = {
    val all = open ++ rows.map { case (us, id, v) => (us - Math.floorMod(us, HourUs), us, id, v) }
    val (sealable, carry) = all.partition { case (h, _, _, _) => h + HourUs - 1 < wmUs }
    val sums = sealable.groupBy(_._1).toSeq.sortBy(_._1).map { case (h, pts) =>
      var sv = 0.0
      pts.sortBy(p => (p._2, p._3)).foreach(sv += _._4)
      (h, Num.rounddD(sv, 2))
    }
    (sums, carry)
  }

  /** Adds one to the count of each grid index in `idx`. */
  def tally(counts: Map[Long, Long], idx: Iterator[Long]): Map[Long, Long] =
    idx.foldLeft(counts)((m, x) => m.updated(x, m.getOrElse(x, 0L) + 1L))

  /** Burst, Ph and Spike: the cells of a gapless grid that the watermark
    * seals, i.e. every index after `sealedThrough` whose cell ends at or
    * below `wmUs`, in order, with its count. An absent cell counts zero,
    * as in the batch panels' gap-fill. */
  def sealCells(sealedThrough: Long, counts: Map[Long, Long], wmUs: Long)(
      cellEndUs: Long => Long): Seq[(Long, Long)] = {
    val cells = ArrayBuffer.empty[(Long, Long)]
    var x = sealedThrough + 1
    while (cellEndUs(x) <= wmUs) {
      cells += ((x, counts.getOrElse(x, 0L)))
      x += 1
    }
    cells.toSeq
  }

  /** Start of hour `x` of the grid. */
  def gridHour(x: Long): java.sql.Timestamp = java.sql.Timestamp.from(
    java.time.Instant.ofEpochSecond((Grid0Us + x * HourUs) / 1000000L))
}
