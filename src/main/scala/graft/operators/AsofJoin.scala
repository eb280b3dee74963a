package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join: for each left row, the single right row with the
  * greatest `rightTime <= leftTime` — the one time-series operator Spark
  * has no native batch primitive for.
  *
  * Three shapes, chosen by the caller to match data geometry:
  *
  *  - `broadcastAsof` — |left| small (alerts, samples): broadcast left into
  *    a non-equi nested-loop join, reduce with max. O(|left|·|right|) but
  *    distributed over right; right never shuffles. This is what the
  *    contract query q_ts_asof_join uses (150 probes × N events).
  *
  *  - `keyedAsof` — both sides large but keyed (per user/series): union the
  *    two sides, one shuffle on the key, per-key sort, and a running
  *    last-non-null window carries the latest right row forward onto each
  *    left row. The classic union-sort-carry formulation: linear shuffle
  *    volume, no pair explosion, scales to any per-key cardinality that
  *    sorts in an executor (spills otherwise).
  *
  *  - (fourth shape) `graft.plans.NativeAsof.asofJoin` — a custom physical
  *    operator (LogicalPlan + SparkStrategy + SparkPlan) with SortMergeJoin
  *    geometry and an O(1)-state two-pointer merge; carries every right
  *    column, unlike keyedAsof's single value column. AsofJoinSpec holds
  *    the two result-equal. Measured (round 3 micro-bench, sf0.1): keyedAsof's
  *    codegen'd window is ~2× faster, so it remains the default; the
  *    native op is the template for semantics windows can't express.
  *
  *  - `bucketedAsof` — large and UNkeyed: co-partition both sides on
  *    floor(time/bucket); candidates join inside each bucket only. Left
  *    rows whose bucket holds no earlier right row fall back to a
  *    per-bucket prefix-max state table (one row per bucket — tiny,
  *    computed with a window over the aggregated buckets and broadcast by
  *    the optimizer). Shuffle volume is one pass of each side + a
  *    bucket-count-sized side table, vs the quadratic nested loop.
  */
object AsofJoin {

  /** Small left side: broadcast + non-equi join + max reduction.
    * `left` must have unique values in `leftIdCols`. */
  def broadcastAsof(left: DataFrame, right: DataFrame,
                    leftTime: String, rightTime: String,
                    leftIdCols: Seq[String]): DataFrame = {
    right.select(col(rightTime))
      .join(broadcast(left), col(rightTime) <= col(leftTime))
      .groupBy(leftIdCols.map(col): _*)
      .agg(max(col(rightTime)).as(rightTime))
  }

  /** Keyed union-sort-carry as-of. Returns left rows + `asof_<valueCol>`
    * (null when no earlier right row exists for the key). */
  def keyedAsof(left: DataFrame, right: DataFrame, key: String,
                leftTime: String, rightTime: String, valueCol: String): DataFrame = {
    val l = left.withColumn("__t", col(leftTime))
      .withColumn("__is_right", lit(0)).withColumn("__v", lit(null).cast(
        right.schema(valueCol).dataType))
    val r = right.select(
      col(key), col(rightTime).as("__t"), lit(1).as("__is_right"),
      col(valueCol).as("__v"))
    val unioned = l.select((l.columns.filterNot(Seq("__t", "__is_right", "__v").contains)
        .map(col) ++ Seq(col("__t"), col("__is_right"), col("__v"))): _*)
      .unionByName(r, allowMissingColumns = true)
    // right rows sort BEFORE left rows at equal time (asof is <=, inclusive);
    // __v as the final sort key makes ties among right rows at the same
    // (key, time) deterministic: the largest value wins
    val w = Window.partitionBy(key).orderBy(col("__t").asc, col("__is_right").desc, col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn(s"asof_$valueCol", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__is_right") === 0)
      .drop("__t", "__is_right", "__v")
  }

  /** Unkeyed, both sides large: time-bucket co-partitioning + per-bucket
    * prefix state fallback. `bucketSeconds` is the bucket width in seconds
    * (e.g. 86400 for daily buckets); results are bucket-width-invariant —
    * only the shuffle geometry changes. */
  def bucketedAsof(left: DataFrame, right: DataFrame,
                   leftTime: String, rightTime: String,
                   leftIdCols: Seq[String], bucketSeconds: Long): DataFrame = {
    // exact FLOOR division on longs ((a - pmod(a,b)) div b): `/` would be
    // double division (precision loss past 2^53 µs) and `div` alone
    // truncates toward zero, mis-bucketing pre-1970 (negative) epochs
    def bucketOf(t: String) = {
      val b = bucketSeconds * 1000000L
      expr(s"(unix_micros(cast($t as timestamp)) - pmod(unix_micros(cast($t as timestamp)), ${b}L)) div ${b}L")
    }

    val lb = left.withColumn("__lb", bucketOf(leftTime))
    val rb = right.select(col(rightTime)).withColumn("__rb", bucketOf(rightTime))

    // per-bucket max right time: one row per non-empty bucket — a tiny,
    // broadcastable state table (bucket count, not data size).
    val perBucket = rb.groupBy("__rb").agg(max(col(rightTime)).as("__bmax"))

    // in-bucket candidates: co-partitioned equi-join on bucket id
    val inBucket = lb
      .join(rb, col("__lb") === col("__rb") && col(rightTime) <= col(leftTime))
      .groupBy(leftIdCols.map(col): _*)
      .agg(max(col(rightTime)).as("__in_bucket"))

    // fallback for buckets with no earlier in-bucket right row: the max
    // right time over all STRICTLY earlier buckets (a broadcast non-equi
    // join against the per-bucket state, then max — covers left buckets
    // that contain no right rows at all).
    val fallback = lb
      .join(broadcast(perBucket), col("__rb") < col("__lb"))
      .groupBy(leftIdCols.map(col): _*)
      .agg(max(col("__bmax")).as("__fb"))

    // stitch: in-bucket result wins (it is ≥ any earlier-bucket row)
    lb.join(inBucket, leftIdCols, "left")
      .join(fallback, leftIdCols, "left")
      .withColumn(rightTime, coalesce(col("__in_bucket"), col("__fb")))
      .filter(col(rightTime).isNotNull)
      .select((leftIdCols.map(col) :+ col(rightTime)): _*)
  }
}
