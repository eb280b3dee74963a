package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import SealedFold.{Hold, Next, RearmAt, Remove}

/** STREAM-STREAM AS-OF enrichment (VERDICT r7 missing #4) — the streaming
  * face of the as-of family (AsofJoin.keyedAsof / plans.NativeAsof are the
  * batch faces): a sensor/probe stream is enriched, per key, with the
  * latest reference value whose time is <= the probe's time, where the
  * reference is itself a (slowly-changing) stream.
  *
  * Spark has no native stream-stream as-of join — an interval join needs a
  * two-sided time bound, and as-of's "latest earlier row" is unbounded
  * lookback. The operator is therefore built on the custom-state tier:
  * both streams are tagged and unioned (the same union-carry idea as
  * keyedAsof, lifted to streaming) and folded per key:
  *
  *  - a probe at time t is SEALED once the watermark passes t — no
  *    reference row with ts <= t can legally arrive after that — and is
  *    emitted exactly once with the latest reference value at-or-before t
  *    (reference-before-probe at equal times, ties among reference rows
  *    broken toward the larger value: identical to keyedAsof, so the
  *    parity spec can hold the two equal row-for-row);
  *  - reference history is pruned to the single latest row at-or-below
  *    the watermark plus everything above it — exactly what any still-open
  *    probe can reach, so per-key state is O(late window), not O(stream);
  *  - keys with open probes arm a timer at the earliest open probe's
  *    time, so sealing happens even when a key receives no further rows.
  *
  * At 100 TB/day the state store holds (per key) only the open-probe
  * buffer and the watermark-bounded reference tail — the same bound the
  * built-in stateful operators live under. StreamParitySpec holds the
  * emitted rows equal to AsofJoin.keyedAsof on the sealed prefix under
  * ordered AND jittered replay.
  */
object StreamAsof {

  /** `ts` stays in the row: the watermarked event-time column must reach
    * the stateful operator for the event-time timeout to resolve. */
  case class AsofEvent(key: Long, ts: java.sql.Timestamp, tMicros: Long,
                       isRight: Boolean, probeId: Long, value: Double)
  case class AsofState(pending: List[(Long, Long)], // (t, probeId), open probes
                       rights: List[(Long, Double)]) // (rt, value), pruned history
  case class Enriched(key: Long, probe_id: Long, t_micros: Long,
                      asof_value: Option[Double])

  /** Per-key fold: buffer arrivals, seal probes the watermark has passed,
    * prune reference history to what open probes can still reach. */
  private[graft] def enrichGroup(key: Long, prev: AsofState, it: Iterator[AsofEvent],
                                 wmMicros: Long): (Next[AsofState], Iterator[Enriched]) = {
    var pending = prev.pending
    var rights = prev.rights
    it.foreach { e =>
      if (e.isRight) rights ::= (e.tMicros, e.value)
      else pending ::= (e.tMicros, e.probeId)
    }
    val (ripe, open) = pending.partition(_._1 <= wmMicros)
    val out = ripe.sortBy(p => (p._1, p._2)).map { case (t, id) =>
      val reachable = rights.filter(_._1 <= t)
      val v = if (reachable.isEmpty) None
      else Some(reachable.maxBy(r => (r._1, r._2))._2)
      Enriched(key, id, t, v)
    }
    // an open probe (t > wm) can still need the latest reference row at or
    // below the watermark — keep exactly one such row, drop older ones
    val (below, above) = rights.partition(_._1 <= wmMicros)
    val keepBelow = if (below.isEmpty) Nil else List(below.maxBy(r => (r._1, r._2)))
    val next = AsofState(open, keepBelow ++ above)
    (if (next.pending.isEmpty && next.rights.isEmpty) Remove
     // seal the earliest open probe as soon as the watermark passes it,
     // even if this key never sees another row
     else if (open.nonEmpty) RearmAt(next, open.map(_._1).min / 1000L + 1L)
     else Hold(next),
      out.iterator)
  }

  /** Wire two watermarked streams into the stateful as-of enrichment.
    * `probes` needs (user_id, ts, event_id); `reference` needs
    * (user_id, ts, value). `delay` is the shared watermark delay — late
    * arrivals inside it are handled, beyond it dropped (standard
    * watermark contract). */
  def asofEnrich(probes: DataFrame, reference: DataFrame,
                 delay: String = "10 minutes"): Dataset[Enriched] = {
    val s = probes.sparkSession
    import s.implicits._
    val p = probes.select(
      col("user_id").as("key"), col("ts"),
      lit(false).as("isRight"), col("event_id").as("probeId"),
      lit(0.0).as("value"))
    val r = reference.select(
      col("user_id").as("key"), col("ts"),
      lit(true).as("isRight"), lit(-1L).as("probeId"), col("value"))
    SealedFold(p.withWatermark("ts", delay)
      .unionByName(r.withWatermark("ts", delay))
      .withColumn("tMicros", unix_micros(col("ts")))
      .select("key", "ts", "tMicros", "isRight", "probeId", "value")
      .as[AsofEvent])(_.key, AsofState(Nil, Nil))(enrichGroup)
  }
}
