package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operator inventory (SURVEY.md §2.1-F) — the TSDB core, over
  * the `events` table (ns-precision event log, see Tables.events).
  *
  * Scale notes:
  *  - Tumbling/downsample are single-shuffle hash aggregates on
  *    (bucket, type) — map-side partial agg makes them linear at 100 TB.
  *  - Sliding windows use `F.window(ts, 1h, 15m)`: each event expands to at
  *    most 4 windows BEFORE the shuffle, so cost is 4× a tumbling agg —
  *    NOT a grid range-join (which would be O(grid × events)).
  *  - Sessionization is gaps-and-islands: two window passes partitioned by
  *    user_id. One shuffle on user_id; each user's events sort locally.
  *    Streaming twin: session_window (graft.streaming.StreamingQueries).
  *  - ASOF join broadcasts the (tiny, filtered) probe side through a
  *    non-equi BroadcastNestedLoopJoin then reduces with max — right shape
  *    when |probe| ≪ |events|. A general scalable as-of for large probe
  *    sides lives in graft.operators.AsofJoin.
  */
object TimeSeries {
  type Q = (SparkSession, String) => DataFrame

  val qTsTumbling: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        Num.roundd(sum("value"), 2).as("sv"),
        // avg derived from a pre-rounded sum: engines sum doubles in
        // different orders (~1e-13 apart), which can flip Num.roundd(avg,4) at a
        // .5 boundary. Num.roundd(sum,8) collapses both sides to the same double
        // first (§2.0.2). Oracle SQL does the same.
        Num.roundd(Num.roundd(sum("value"), 8) / count(lit(1)), 4).as("av"))
      .orderBy("w", "event_type")

  val qTsDownsampleDay: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        Num.roundd(min("value"), 2).as("mn"),
        Num.roundd(max("value"), 2).as("mx"),
        Num.roundd(Num.roundd(sum("value"), 8) / count(lit(1)), 4).as("av"))
      .orderBy("d", "event_type")

  /** 1h windows sliding every 15min. `F.window` expands each event to its
    * ≤4 containing windows pre-shuffle (linear), vs the oracle's grid
    * range-join formulation. Bounds filter mirrors the oracle's
    * generate_series('2024-01-01','2024-01-31') grid. */
  val qTsSliding: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w"), col("cnt"))
      .filter(
        expr("w >= TIMESTAMP_NTZ '2024-01-01 00:00:00'") &&
          expr("w <= TIMESTAMP_NTZ '2024-01-31 00:00:00'"))
      .orderBy("w")

  /** 30-min-gap sessionization via gaps-and-islands (two stacked windows). */
  val qTsSession: Q = (s, d) => {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    Tables.events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_ts").isNull || expr("ts - prev_ts > INTERVAL '30' MINUTE"), 1)
          .otherwise(0))
      .withColumn("sid", sum("new_s").over(byUser))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min("ts").as("mn"), max("ts").as("mx"))
      // date_diff('second',a,b) = second-boundary crossings = floor-epoch diff
      .withColumn("dur_s",
        expr("unix_micros(cast(mx as timestamp)) div 1000000 - unix_micros(cast(mn as timestamp)) div 1000000"))
      .select("user_id", "sid", "n_events", "dur_s")
      .orderBy("user_id", "sid")
  }

  /** Dense hourly axis LEFT JOIN hourly sums; empty hours → 0.0. */
  val qTsGapfill: Q = (s, d) => {
    val hours = s.sql(
      "SELECT explode(sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00', TIMESTAMP_NTZ '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS h")
    val agg = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("ah"))
      .agg(Num.roundd(sum("value"), 2).as("asv"))
    hours.join(agg, col("h") === col("ah"), "left")
      .select(col("h"), coalesce(col("asv"), lit(0.0)).as("sv"))
      .orderBy("h")
  }

  val qTsLastPoint: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(max_by(col("value"), col("ts")).as("last_value"), max("ts").as("last_ts"))
      .orderBy("user_id")

  val qTsDelta: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(
        col("user_id"), col("ts"), col("event_id"),
        Num.roundd(col("value") - lag("value", 1).over(w), 4).as("delta"))
      .orderBy("user_id", "ts", "event_id")
      .limit(5000)
      .drop("event_id")
  }

  val qTsTopkPerDay: Q = (s, d) => {
    val counted = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("d").orderBy(col("cnt").desc, col("user_id").asc)
    counted
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .orderBy("d", "rn")
  }

  val qTsHistogram: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy((floor(col("value") / 50) * 50).cast("double").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")

  /** As-of join: for each sampled order, the latest event at-or-before
    * (o_orderdate + 10585 days). Probe side is tiny → broadcast non-equi
    * join + max reduction. Inner semantics (orders with no event drop). */
  val qTsAsofJoin: Q = (s, d) => {
    val probe = Tables.orders(s, d)
      .filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey"), expr("o_orderdate + INTERVAL '10585' DAY").as("cutoff"))
    AsofJoin.broadcastAsof(probe, Tables.events(s, d), "cutoff", "ts", Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** Per-type, per-day EWMA (α = 0.3) over the day's hourly sums.
    * The recursive s_i = α·v_i + (1-α)·s_{i-1} is a sequential fold, so it
    * runs as a codegen'd `aggregate` HOF over the day's sorted points —
    * O(day length) per group, chunked by day exactly like the LOCF carry,
    * never a single-partition global scan. Inputs are pre-rounded hourly
    * sums, and both engines execute the identical multiply-add sequence,
    * so the fold is bit-reproducible (§2.0.2). */
  val qTsEwma: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(Num.roundd(sum("value"), 6).as("sv"))
      .groupBy(col("event_type"), date_trunc("day", col("h")).cast("date").as("day"))
      .agg(sort_array(collect_list(struct(col("h"), col("sv")))).as("pts"))
      .withColumn("vs", expr("transform(pts, x -> x.sv)"))
      .withColumn("ewma", Num.roundd(expr(
        "aggregate(slice(vs, 2, size(vs) - 1), element_at(vs, 1), (acc, x) -> 0.3 * x + 0.7 * acc)"), 6))
      .select("event_type", "day", "ewma")
      .orderBy("event_type", "day")

  /** Trailing-window anomaly detection: z-score of each hour's event count
    * against the preceding 24 hourly counts (per type), flag |z| > 2.
    * One shuffle on event_type; the frame is ROWS-bounded so state per
    * series is O(24) regardless of series length. Counts are integers
    * (exact sums on both engines); only stddev needs rounding, and the
    * filter compares the ROUNDED z so the cut is engine-stable. */
  val qTsAnomaly: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n24", count(lit(1)).over(w))
      .withColumn("mu", sum("c").over(w).cast("double") / count(lit(1)).over(w))
      .withColumn("sd", Num.roundd(stddev_samp(col("c")).over(w), 6))
      .filter(col("n24") === 24 && col("sd") > 0)
      .withColumn("z", Num.roundd((col("c") - col("mu")) / col("sd"), 3))
      .filter(abs(col("z")) > 2)
      .select("event_type", "h", "c", "z")
      .orderBy("event_type", "h")
  }

  /** Calendar-hierarchy rollup: counts and sums at (year, month, day),
    * (year, month), (year), and grand-total grain in ONE pass — the
    * "downsample at every retention tier" query a TSDB serves constantly,
    * as a single Expand + hash aggregate instead of four scans. */
  val qTsRollupTime: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("dd"))
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .rollup("y", "m", "dd")
      .agg(sum("cnt").as("cnt"), Num.roundd(Num.roundd(sum("sv"), 8), 2).as("sv"))
      .orderBy(col("y").asc_nulls_first, col("m").asc_nulls_first, col("dd").asc_nulls_first)

  /** Exact interpolated percentiles per series (Spark `percentile` and
    * DuckDB `quantile_cont` share the (1-g)·v[k] + g·v[k+1] definition). */
  val qTsPercentile: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        Num.roundd(expr("percentile(value, 0.5)"), 4).as("p50"),
        Num.roundd(expr("percentile(value, 0.95)"), 4).as("p95"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** Dense hourly axis LEFT JOIN hourly sums — the shared input of the
    * interpolation queries (NULL on empty hours). */
  private def hourlyAxis(s: SparkSession, d: String): DataFrame = {
    val hours = s.sql(
      "SELECT explode(sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00', TIMESTAMP_NTZ '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS h")
    val agg = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("ah"))
      .agg(Num.roundd(sum("value"), 2).as("asv"))
    // r18: a rotate pin here was measured and REJECTED (0.41→0.59 s
    // lerp, 0.17→0.43 s locf): ReuseExchange already dedupes the corpus
    // aggregate across the Interpolate consumers (PlanAudit scans=1), so
    // the pin added a materialization job without removing corpus work.
    hours.join(agg, col("h") === col("ah"), "left")
  }

  /** LOCF interpolation: dense hourly axis, missing hours carry the last
    * observed hourly sum forward (leading gap stays NULL). Day-chunked
    * parallel carry (graft.operators.Interpolate) — no single-task global
    * window; the DuckDB oracle uses the global-window formulation, so this
    * is also a cross-algorithm equivalence check. */
  val qTsLocf: Q = (s, d) =>
    Interpolate.locf(hourlyAxis(s, d), "h", "asv", "sv_locf")
      .select("h", "sv_locf")
      .orderBy("h")

  /** Linear interpolation between the surrounding observed hours (observed
    * hours keep their value; leading gap NULL, trailing gap LOCF). Same
    * chunked-carry machinery, lerp arithmetic µs-exact. */
  val qTsLerp: Q = (s, d) =>
    Interpolate.lerp(hourlyAxis(s, d), "h", "asv", "v0")
      .select(col("h"), Num.roundd(col("v0"), 4).as("sv_lerp"))
      .orderBy("h")

  /** Per-user rate of change: Δvalue / Δseconds between consecutive events
    * (µs-exact denominator; NULL on each user's first event). */
  val qTsRate: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_v", lag("value", 1).over(w))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .select(
        col("user_id"), col("ts"), col("event_id"),
        Num.roundd(
          (col("value") - col("prev_v")) /
            (expr("unix_micros(cast(ts as timestamp)) - unix_micros(cast(prev_ts as timestamp))") / lit(1000000.0)),
          6).as("rate"))
      .orderBy("user_id", "ts", "event_id")
      .limit(5000)
      .drop("event_id")
  }

  /** Counter-reset-aware rate (PromQL reset detection, VERDICT r6 missing
    * #1): a monitored counter only goes up; an observed drop means the
    * process restarted and the counter rebuilt from 0, so the adjusted
    * delta is the NEW value (everything since the reset), not the negative
    * difference. q_ts_rate (plain Δ — gauge semantics) stays unchanged;
    * this is the counter tier. Same one-shuffle window plan shape. */
  val qTsRateResets: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_v", lag("value", 1).over(w))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("adj",
        when(col("prev_v").isNull, lit(null))
          .when(col("value") >= col("prev_v"), col("value") - col("prev_v"))
          .otherwise(col("value")))
      .select(
        col("user_id"), col("ts"), col("event_id"),
        Num.roundd(
          col("adj") /
            (expr("unix_micros(cast(ts as timestamp)) - unix_micros(cast(prev_ts as timestamp))") / lit(1000000.0)),
          6).as("rate"))
      .orderBy("user_id", "ts", "event_id")
      .limit(5000)
      .drop("event_id")
  }

  /** Counter-reset-aware increase (PromQL `increase` semantics): per
    * (user, day), sum only the positive deltas — a reset to a lower value
    * contributes nothing instead of a negative spike. */
  val qTsIncrease: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("d", date_trunc("day", col("ts")).cast("date"))
      .withColumn("delta", col("value") - lag("value", 1).over(w))
      .groupBy("user_id", "d")
      .agg(Num.roundd(sum(when(col("delta") > 0, col("delta")).otherwise(0.0)), 2).as("inc"))
      .orderBy("user_id", "d")
  }

  /** PromQL `changes()`: number of times a series' value changed within
    * each (user, day). One shuffle on the window key; the aggregate rides
    * the same sorted partition. First event of a day is not a change. */
  val qTsChanges: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "dd").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("dd", date_trunc("day", col("ts")).cast("date"))
      .withColumn("chg",
        when(col("value") =!= lag("value", 1).over(w), 1L).otherwise(0L))
      .groupBy("user_id", "dd")
      .agg(sum("chg").as("changes"), count(lit(1)).as("n"))
      .orderBy("user_id", "dd")
  }

  /** PromQL `irate()`: instantaneous rate from the LAST TWO samples of
    * each (user, day), with counter-reset handling (drop ⇒ adjusted Δ =
    * new value). Both window passes share one partition key ⇒ one
    * shuffle; days with a single event yield no row (no pair exists). */
  val qTsIrate: Q = (s, d) => {
    val wAsc = Window.partitionBy("user_id", "dd").orderBy("ts", "event_id")
    val wDesc = Window.partitionBy("user_id", "dd")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("dd", date_trunc("day", col("ts")).cast("date"))
      .withColumn("prev_v", lag("value", 1).over(wAsc))
      .withColumn("prev_ts", lag("ts", 1).over(wAsc))
      .withColumn("rn", row_number().over(wDesc))
      .filter(col("rn") === 1 && col("prev_ts").isNotNull)
      .withColumn("adj",
        when(col("value") >= col("prev_v"), col("value") - col("prev_v"))
          .otherwise(col("value")))
      .select(col("user_id"), col("dd"),
        Num.roundd(
          col("adj") /
            (expr("unix_micros(cast(ts as timestamp)) - unix_micros(cast(prev_ts as timestamp))") / lit(1000000.0)),
          6).as("irate"))
      .orderBy("user_id", "dd")
  }

  /** Heatmap source: 2-D histogram over (hour-of-day, value decile-of-100)
    * — the classic TSDB dashboard panel, one hash aggregate. */
  val qTsHeatmap: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(
        hour(col("ts")).cast("long").as("hod"),
        (floor(col("value") / 10) * 10).cast("long").as("vbucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("hod", "vbucket")

  /** PromQL `deriv()`: least-squares slope of value over time per
    * (event_type, day). Time is seconds-within-day (bounded ⇒ no
    * catastrophic cancellation on epoch-scale abscissae); the four moment
    * sums are pre-rounded (§2.0.2 recipe) so both engines run the closed
    * formula on identical inputs. One hash aggregate, no window. */
  val qTsDeriv: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("dd", date_trunc("day", col("ts")).cast("date"))
      .withColumn("tt",
        (expr("unix_micros(cast(ts as timestamp))") % lit(86400L * 1000000L)) / lit(1000000.0))
      .groupBy("event_type", "dd")
      .agg(
        count(lit(1)).as("n"),
        Num.roundd(sum("tt"), 4).as("st"),
        Num.roundd(sum("value"), 4).as("sv"),
        Num.roundd(sum(col("tt") * col("value")), 4).as("stv"),
        Num.roundd(sum(col("tt") * col("tt")), 4).as("stt"))
      .select(col("event_type"), col("dd"),
        Num.roundd(
          (col("n") * col("stv") - col("st") * col("sv")) /
            (col("n") * col("stt") - col("st") * col("st")),
          8).as("slope"))
      .orderBy("event_type", "dd")

  /** Trailing 3-hour moving average of hourly sums per series, as a RANGE
    * frame over epoch-seconds (hours with no data do NOT occupy frame
    * slots — a range frame, not a rows frame). */
  val qTsMovingAvg: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        (expr("unix_micros(cast(date_trunc('hour', ts) as timestamp))") / 1000000L)
          .cast("long").as("hs"))
      .agg(Num.roundd(sum("value"), 2).as("sv"))
    val w = Window.partitionBy("event_type").orderBy("hs").rangeBetween(-7200, 0)
    hourly
      .withColumn("mov",
        Num.roundd(Num.roundd(sum("sv").over(w), 8) / count(lit(1)).over(w), 4))
      .select(col("event_type"),
        expr("cast(timestamp_seconds(hs) as timestamp_ntz)").as("h"),
        col("sv"), col("mov"))
      .orderBy("event_type", "h")
  }

  /** Day-over-day retention: share of day-d active users also active on
    * day d+1 (exact integer counts; ratio is a division of exact longs). */
  /** Next-day retention in window form: one shuffle on user_id orders each
    * user's distinct active days; `lead(d) = d+1` marks retained days.
    * Result-identical to the self-join formulation (which the oracle
    * keeps), but the daily-activity table is shuffled ONCE instead of
    * twice and joined never — at 100 TB the self-join's second shuffle of
    * the (user, day) table is the bottleneck this removes. */
  val qTsRetention: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("d")
    val daily = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).cast("date").as("d"), col("user_id"))
      .distinct()
    daily
      .withColumn("ret", when(lead("d", 1).over(w) === date_add(col("d"), 1), 1L).otherwise(0L))
      .groupBy("d")
      .agg(count(lit(1)).as("n_users"), sum("ret").as("retained"))
      .filter(col("retained") > 0)
      .select(col("d"), col("n_users"), col("retained"),
        Num.roundd(col("retained").cast("double") / col("n_users"), 4).as("rate"))
      .orderBy("d")
  }

  /** Conversion funnel: each user's first 'view', joined forward to the
    * earliest 'purchase' within 1 hour (inner: converting users only). */
  val qTsFunnel: Q = (s, d) => {
    val v = Tables.events(s, d).filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val p = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
    v.join(p, col("pu") === col("user_id") &&
        col("pts") > col("t_view") && expr("pts <= t_view + INTERVAL '1' HOUR"))
      .groupBy("user_id", "t_view")
      .agg(min("pts").as("t_purchase"))
      .orderBy("user_id")
  }

  /** Time-weighted average per (user, day) over irregular samples: each
    * value is held until the user's next event that day, TWA = Σv·Δt / ΣΔt.
    * One user_id shuffle (window + agg share the partitioning). Δt stays in
    * exact µs longs; the Σv·Δt double sum's order-noise is ~1e-11 relative
    * (bounded by n·ulp(maxterm)/ΣΔt), far inside the 6-dp rounding. */
  val qTsTwa: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "dday").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("dday", date_trunc("day", col("ts")).cast("date"))
      .withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("dt", lead("us", 1).over(w) - col("us"))
      .filter(col("dt").isNotNull)
      .groupBy("user_id", "dday")
      .agg(count(lit(1)).as("n_seg"),
        Num.roundd(sum(col("value") * col("dt")) / sum("dt"), 6).as("twa"))
      .orderBy("user_id", "dday")
  }

  /** Hourly OHLC bars per event type: open/close via min_by/max_by on ts —
    * a single map-side-combinable hash aggregate (partial min_by states
    * merge associatively), NOT a window sort: one shuffle on (h, type) and
    * no per-group ordering pass, the shape that holds at 100 TB. Relies on
    * ts being unique within events (verified for the synthetic generator);
    * with duplicate timestamps the tie-break needs a (ts, event_id) key
    * carried as a struct — DuckDB's arg_min can't, so the oracle pins the
    * ts-unique contract. */
  val qTsOhlc: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n"))
      .orderBy("h", "event_type")

  /** Nearest-asof via the NATIVE custom operator (graft.plans.NativeAsof):
    * each (user, active-day-midnight) probe matched to the user's event
    * with minimum |Δt| in either direction — the one as-of mode no window
    * composition expresses in one pass. This entry puts the custom
    * LogicalPlan→Strategy→SparkPlan pipeline under the driver's DuckDB
    * hash-compare gate; the oracle is an independent brute-force min-|Δt|
    * ranking (ties → backward ≡ the exec's db <= df rule, made unique by
    * globally-unique event ts). */
  val qTsAsofNearest: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev
      .groupBy(col("user_id").as("k"), date_trunc("day", col("ts")).as("pt"))
      .agg(count(lit(1)))
      .select("k", "pt")
    val rightRaw = ev.select(
      col("user_id").as("rk"), col("ts").as("rt"), col("value").as("v"))
    graft.plans.NativeAsof
      .asofJoin(probes, rightRaw, "k", "rk", "pt", "rt", "nearest")
      .select(col("k"), col("pt"), col("v"))
      .orderBy("k", "pt")
  }

  /** Gap / outage detection: per series (event_type), every silence longer
    * than 60 minutes between consecutive events, as (gap_start, gap_end,
    * gap_s) intervals — the "when was this feed down" TSDB read.
    *
    * DAY-CHUNKED (the Interpolate carry pattern), not one window over the
    * whole series: this column has only 5 series, so a plain
    * `partitionBy(event_type)` window puts an entire series — billions of
    * rows at 100 TB — into ONE task's sort. Instead: (1) intra-day gaps
    * via lag within (series, day) — keyspace is series × days, so no task
    * ever sorts more than one series-day; (2) cross-midnight gaps from
    * the per-day edge summary (first/last ts per present day — one tiny
    * row per series-day; an empty day is simply absent, so consecutive
    * PRESENT days pair correctly). Every consecutive-event pair lies
    * either within one day or between two present days' edges, so the
    * union is exactly the global-lag result — which the oracle keeps,
    * making this a driver-verified cross-algorithm equivalence. gap_s
    * uses the same exact integer µs→s floor-diff as session duration. */
  val qTsGaps: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"))
      .withColumn("dday", to_date(col("ts")))
    val wDay = Window.partitionBy("event_type", "dday").orderBy("ts", "event_id")
    val intra = ev
      .withColumn("prev_ts", lag("ts", 1).over(wDay))
      .filter(expr("ts - prev_ts > INTERVAL '60' MINUTE"))
      .select(col("event_type"), col("prev_ts").as("gap_start"), col("ts").as("gap_end"))
    val wEdge = Window.partitionBy("event_type").orderBy("dday")
    val cross = ev
      .groupBy("event_type", "dday")
      .agg(min("ts").as("first_ts"), max("ts").as("last_ts"))
      .withColumn("prev_last", lag("last_ts", 1).over(wEdge))
      .filter(expr("first_ts - prev_last > INTERVAL '60' MINUTE"))
      .select(col("event_type"), col("prev_last").as("gap_start"), col("first_ts").as("gap_end"))
    intra.unionByName(cross)
      .select(col("event_type"), col("gap_start"), col("gap_end"),
        expr("unix_micros(cast(gap_end as timestamp)) div 1000000 - unix_micros(cast(gap_start as timestamp)) div 1000000")
          .as("gap_s"))
      .orderBy("event_type", "gap_start")
  }

  /** Cross-series correlation: per-day Pearson r between the hourly count
    * series of two event types ('click' vs 'view'). Every moment (Σx, Σy,
    * Σxy, Σx², Σy²) is an EXACT integer sum of integer hourly counts —
    * order-free, so the final one-shot double formula is bit-reproducible
    * across engines with no rounding tricks (unlike double-valued corr,
    * which is why this does NOT use corr()). Two single-shuffle hash
    * aggregates (hour, then day). Long moments hold to ~2^26 events/hour;
    * beyond that switch the moment sums to DOUBLE (documented, not hit at
    * any realistic per-hour rate). */
  val qTsCorrPair: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("x"),
        count(when(col("event_type") === "view", 1)).as("y"))
    hourly
      .groupBy(date_trunc("day", col("h")).cast("date").as("dday"))
      .agg(count(lit(1)).as("n_hours"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n_hours") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("n_hours") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("dday"), col("n_hours"),
        Num.roundd(
          (col("n_hours") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n_hours") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("n_hours") * col("syy") - col("sy") * col("sy")).cast("double"))),
          6).as("r"))
      .orderBy("dday")
  }

  /** Holt's linear (double-exponential) smoothing per (event_type, day)
    * over the day's hourly sums: level l' = α·x + (1-α)(l + b), trend
    * b' = β(l' - l) + (1-β)b, α=0.5 β=0.3, classic init l=v₂, b=v₂-v₁.
    * Same day-chunked codegen'd `aggregate` fold as EWMA — O(day length)
    * per group, never a global scan — but with 2-field struct state, and
    * l' is recomputed inside the b' update so both engines execute the
    * identical IEEE multiply-add sequence on pre-rounded inputs
    * (bit-reproducible, §2.0.2). Emits final level, trend, and the
    * one-step forecast l+b a TSDB alerts on. */
  val qTsHolt: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(Num.roundd(sum("value"), 6).as("sv"))
      .groupBy(col("event_type"), date_trunc("day", col("h")).cast("date").as("dday"))
      .agg(sort_array(collect_list(struct(col("h"), col("sv")))).as("pts"))
      .withColumn("vs", expr("transform(pts, p -> p.sv)"))
      .filter(size(col("vs")) >= 2)
      .withColumn("st", expr(
        "aggregate(slice(vs, 3, size(vs) - 2), " +
          "named_struct('l', element_at(vs, 2), 'b', element_at(vs, 2) - element_at(vs, 1)), " +
          "(acc, x) -> named_struct(" +
          "'l', 0.5d * x + 0.5d * (acc.l + acc.b), " +
          "'b', 0.3d * ((0.5d * x + 0.5d * (acc.l + acc.b)) - acc.l) + 0.7d * acc.b))"))
      .select(col("event_type"), col("dday"),
        Num.roundd(col("st.l"), 6).as("lvl"),
        Num.roundd(col("st.b"), 6).as("trend"),
        Num.roundd(col("st.l") + col("st.b"), 6).as("fc1"))
      .orderBy("event_type", "dday")

  /** Cohort retention matrix: users grouped by first-active day, share
    * still active at day +0..+7 — the cohort triangle behind every
    * retention dashboard (generalizes q_ts_retention's next-day rate).
    * Window form, no self-join (PlanSpec pins it): the daily-activity
    * table flows distinct → user_id window (first day) → tiny
    * (cohort, offset) regroup, so nothing re-shuffles the full event
    * table twice — the same scale win as q_ts_retention vs its
    * self-join oracle. All counts exact integers; rate = count / day-0
    * cohort size. */
  val qTsCohort: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
    val wc = Window.partitionBy("cohort_day")
    Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
      .distinct()
      .withColumn("cohort_day", min("d").over(w))
      .withColumn("offset_d", datediff(col("d"), col("cohort_day")).cast("long"))
      .filter(col("offset_d") <= 7)
      .groupBy("cohort_day", "offset_d")
      .agg(count(lit(1)).as("n_users"))
      .withColumn("rate", Num.roundd(
        col("n_users").cast("double") /
          sum(when(col("offset_d") === 0, col("n_users")).otherwise(0L)).over(wc), 4))
      .orderBy("cohort_day", "offset_d")
  }

  /** Backward as-of WITH TOLERANCE through the native operator — the
    * pandas merge_asof tolerance surface: each (user, day-midnight) probe
    * matches the user's latest event at-or-before it ONLY if that event
    * is within 6 hours; staler matches become nulls (left-outer). Puts
    * the AsofJoinExec tolerance path (inclusive ≤, exact-long distance,
    * subtractExact overflow guard) under the driver's hash gate — the
    * plain backward and nearest paths already are. */
  val qTsAsofTolerance: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev
      .groupBy(col("user_id").as("k"), date_trunc("day", col("ts")).as("pt"))
      .agg(count(lit(1)))
      .select("k", "pt")
    val rightRaw = ev.select(
      col("user_id").as("rk"), col("ts").as("rt"), col("value").as("v"))
    graft.plans.NativeAsof
      .asofJoin(probes, rightRaw, "k", "rk", "pt", "rt", "backward",
        tolerance = 6L * 3600 * 1000000) // 6h in µs (timestamps store µs longs)
      .select(col("k"), col("pt"), col("v"))
      .orderBy("k", "pt")
  }

  /** FORWARD as-of through the native operator — "the next event at or
    * after the probe": each (user, day-midnight) probe takes the user's
    * earliest event ≥ it (trailing probes null out). Completes the
    * driver-gated coverage of AsofJoinExec's three directions (backward =
    * q_ts_asof_join via the composed shapes, nearest = q_ts_asof_nearest,
    * tolerance = q_ts_asof_tolerance). */
  val qTsAsofForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev
      .groupBy(col("user_id").as("k"), date_trunc("day", col("ts")).as("pt"))
      .agg(count(lit(1)))
      .select("k", "pt")
    val rightRaw = ev.select(
      col("user_id").as("rk"), col("ts").as("rt"), col("value").as("v"))
    graft.plans.NativeAsof
      .asofJoin(probes, rightRaw, "k", "rk", "pt", "rt", "forward")
      .select(col("k"), col("pt"), col("v"))
      .orderBy("k", "pt")
  }

  /** Cross-metric ratio per window — PromQL's most common expression
    * (`errors / requests`): hourly error share of all events, computed
    * from ONE scan via conditional aggregation (never two scans joined —
    * at 100 TB the join would re-shuffle the series table twice). Exact
    * integer counts; one division at the end. */
  val qTsErrorRatio: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        count(when(col("event_type") === "error", 1)).as("errors"),
        count(lit(1)).as("total"))
      .select(col("h"), col("errors"), col("total"),
        Num.roundd(col("errors").cast("double") / col("total"), 6).as("ratio"))
      .orderBy("h")

  /** Threshold-crossing detection — the alerting read: fire on the hour a
    * series CROSSES above the level (prev ≤ T < curr), not on every hour
    * it stays above (a naive `sv > T` filter pages someone all night).
    * One shuffle on event_type, O(1) lag state; comparisons on the
    * 2-dp-rounded hourly sums so the cut is engine-stable. */
  val qTsThresholdCross: Q = (s, d) => {
    val T = 400.0
    val w = Window.partitionBy("event_type").orderBy("h")
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(Num.roundd(sum("value"), 2).as("sv"))
      .withColumn("prev_sv", lag("sv", 1).over(w))
      .filter(col("sv") > T && col("prev_sv") <= T)
      .select("event_type", "h", "prev_sv", "sv")
      .orderBy("event_type", "h")
  }

  /** Per-series LTTB visual downsampling (graft.functions.Lttb): reduce
    * each series to `nOut` shape-preserving points for rendering — the
    * dashboard read that turns 2M raw points into 1k without losing the
    * spike or the dip. Library API, not a catalog entry: the algorithm
    * is sequential (each kept point depends on the previous), so there
    * is no SQL-expressible oracle; shape properties (endpoints kept,
    * exact output count, spike retention, small-input identity) are
    * asserted in FunctionsSpec. Series are collected per group (the
    * EWMA/Holt contract — chunk per day/week when a single series
    * outgrows an executor). */
  def lttbDownsample(df: DataFrame, seriesCol: String, tsCol: String,
                     valCol: String, nOut: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.groupBy(seriesCol)
      .agg(sort_array(collect_list(struct(
        expr(s"unix_micros(cast($tsCol as timestamp))").as("t"),
        col(valCol).cast("double").as("v")))).as("pts"))
      .select(col(seriesCol), explode(expr(s"graft_lttb(pts, $nOut)")).as("p"))
      .select(col(seriesCol),
        expr("cast(timestamp_micros(p.t) as timestamp_ntz)").as(tsCol),
        col("p.v").as(valCol))
  }

  /** Chunked LTTB — the scale path for LONG series (r6 audit: the plain
    * variant aggregates a whole series into one row, fine for dashboard
    * series, wrong for a year of 1 Hz data). Two-level selection:
    *
    *  1. split each series into `chunks` equal TIME ranges and LTTB each
    *     chunk to ~2·nOut/chunks points — chunk rows hold seriesLen/chunks
    *     points, so per-row state is user-bounded and chunks parallelize
    *     across the cluster;
    *  2. LTTB the concatenated per-chunk selections (≈ 2·nOut points per
    *     series, bounded by nOut — NOT by series length) down to nOut.
    *
    * Exact LTTB is inherently sequential (each bucket's pick depends on
    * the previous pick), so the two-level form is an approximation — the
    * standard one (chunked/parallel LTTB in downsampling practice): chunk
    * boundaries pin first/last of every chunk, and the 2× oversample
    * gives the final pass the real candidates. chunks=1 degenerates to
    * the exact algorithm (asserted in FunctionsSpec). */
  def lttbDownsampleChunked(df: DataFrame, seriesCol: String, tsCol: String,
                            valCol: String, nOut: Int, chunks: Int): DataFrame = {
    require(chunks >= 1, s"lttbDownsampleChunked: chunks must be >= 1, got $chunks")
    graft.functions.GraftFunctions.register(df.sparkSession)
    // chunks=1: select exactly nOut in level 1 so level 2 is the identity
    // (lttb with nOut >= n returns the input) — the exact algorithm
    val perChunk =
      if (chunks == 1) nOut else math.max(3, math.ceil(2.0 * nOut / chunks).toInt)
    val w = Window.partitionBy(seriesCol)
    val pts = df.select(col(seriesCol),
        expr(s"unix_micros(cast($tsCol as timestamp))").as("t"),
        col(valCol).cast("double").as("v"))
      .withColumn("__mn", min("t").over(w))
      .withColumn("__mx", max("t").over(w))
      .withColumn("__chunk", least(lit(chunks - 1),
        floor((col("t") - col("__mn")) * chunks / (col("__mx") - col("__mn") + 1)).cast("int")))
    pts.groupBy(col(seriesCol), col("__chunk"))
      .agg(sort_array(collect_list(struct(col("t"), col("v")))).as("pts"))
      .select(col(seriesCol), col("__chunk"),
        expr(s"graft_lttb(pts, $perChunk)").as("sel"))
      .groupBy(seriesCol)
      // flatten in chunk order: chunk selections are time-sorted within and
      // chunk ranges are disjoint ascending, so the concatenation is sorted
      .agg(flatten(array_sort(collect_list(struct(col("__chunk"), col("sel"))))
        .getField("sel")).as("flat"))
      .select(col(seriesCol), explode(expr(s"graft_lttb(flat, $nOut)")).as("p"))
      .select(col(seriesCol),
        expr("cast(timestamp_micros(p.t) as timestamp_ntz)").as(tsCol),
        col("p.v").as(valCol))
  }

  /** PromQL `predict_linear(v[1d], 1h)`: extrapolate each (event_type,
    * day) series 1 hour past end-of-day with the least-squares line.
    * Same pre-rounded moment sums as qTsDeriv (one hash aggregate, no
    * window); slope and intercept are each rounded to 8 before the
    * projection so both engines run the closed formula on identical
    * doubles. Abscissa is seconds-within-day (bounded), so the
    * prediction point is t = 90000 s (24 h + 1 h). */
  val qTsPredictLinear: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("dd", date_trunc("day", col("ts")).cast("date"))
      .withColumn("tt",
        (expr("unix_micros(cast(ts as timestamp))") % lit(86400L * 1000000L)) / lit(1000000.0))
      .groupBy("event_type", "dd")
      .agg(
        count(lit(1)).as("n"),
        Num.roundd(sum("tt"), 4).as("st"),
        Num.roundd(sum("value"), 4).as("sv"),
        Num.roundd(sum(col("tt") * col("value")), 4).as("stv"),
        Num.roundd(sum(col("tt") * col("tt")), 4).as("stt"))
      .withColumn("slope",
        Num.roundd(
          (col("n") * col("stv") - col("st") * col("sv")) /
            (col("n") * col("stt") - col("st") * col("st")),
          8))
      .withColumn("icept",
        Num.roundd((col("sv") - col("slope") * col("st")) / col("n"), 8))
      .select(col("event_type"), col("dd"),
        Num.roundd(col("slope") * lit(90000.0) + col("icept"), 4).as("pred"))
      .orderBy("event_type", "dd")

  /** PromQL `resets()`: number of counter resets (value drops) per
    * (user, day) — the restart detector behind counter hygiene alerts.
    * Exact integer counts; same one-shuffle lag-window plan shape as
    * qTsChanges. */
  val qTsResets: Q = (s, d) => {
    val w = Window.partitionBy("user_id", "dd").orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("dd", date_trunc("day", col("ts")).cast("date"))
      .withColumn("rst",
        when(col("value") < lag("value", 1).over(w), 1L).otherwise(0L))
      .groupBy("user_id", "dd")
      .agg(sum("rst").as("resets"), count(lit(1)).as("n"))
      .orderBy("user_id", "dd")
  }

  /** PromQL `quantile_over_time(0.9, v[1h])` on a 15-min step: p90 over
    * 1h windows sliding every 15 min. Same `F.window` Expand shape as
    * qTsSliding (each event lands in ≤4 windows BEFORE the shuffle —
    * linear, not a grid range-join); `percentile` is exact interpolated
    * (matches DuckDB quantile_cont bit-for-bit after Num.roundd). At
    * 100 TB with wide windows, swap the exact percentile for the
    * mergeable graft_tdigest tier — same plan shape, bounded state. */
  val qTsQuantileTime: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(
        Num.roundd(expr("percentile(value, 0.9)"), 4).as("p90"),
        count(lit(1)).as("cnt"))
      .select(col("window.start").as("w"), col("p90"), col("cnt"))
      .filter(
        expr("w >= TIMESTAMP_NTZ '2024-01-01 00:00:00'") &&
          expr("w <= TIMESTAMP_NTZ '2024-01-31 00:00:00'"))
      .orderBy("w")

  /** PromQL binary op with vector matching — `sum(click) / on(hour)
    * sum(view)`: the click-through-rate panel. Both sides come out of
    * ONE scan and ONE hash aggregate (conditional sums per hour), not
    * two aggregates + a join — at 100 TB that halves the shuffle and
    * removes the join entirely. Hours lacking either side drop (PromQL
    * inner vector matching). */
  val qTsVectorRatio: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        Num.roundd(sum(when(col("event_type") === "click", col("value"))), 2).as("clicks"),
        Num.roundd(sum(when(col("event_type") === "view", col("value"))), 2).as("vws"))
      .filter(col("clicks").isNotNull && col("vws").isNotNull)
      .select(col("h"), col("clicks"), col("vws"),
        Num.roundd(col("clicks") / col("vws"), 6).as("ratio"))
      .orderBy("h")

  /** Seasonal-naive anomaly detection: each hour's total vs the SAME hour
    * one week earlier (lag 168 on the per-type hourly series) — the
    * weekly-seasonality baseline that catches "this Tuesday 3pm is 2×
    * last Tuesday 3pm" where EWMA smoothing (qTsAnomaly) would lag. Row
    * 168-lag over the aggregated series: one aggregate + one window on
    * the same (event_type) partitioning. Hours missing from the series
    * shift the lag window — compose with qTsGapfill first when the
    * 100 TB corpus has holes; the gate's fixture is hourly-dense. */
  val qTsSeasonalNaive: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("h")
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(Num.roundd(sum("value"), 2).as("sv"))
      .withColumn("expected", lag("sv", 168).over(w))
      .filter(col("expected").isNotNull)
      .withColumn("ratio", Num.roundd(col("sv") / col("expected"), 6))
      .withColumn("anom",
        (abs(col("sv") / col("expected") - lit(1.0)) > lit(0.5)).cast("long"))
      .orderBy("event_type", "h")
  }

  /** PromQL `histogram_quantile(0.9, …)`: the p90 estimate from
    * fixed-boundary bucket counts per (event_type, day) — the Prometheus
    * histogram surface, where quantiles are reconstructed from mergeable
    * bucket counters by linear interpolation inside the target bucket
    * (+Inf bucket clamps to the highest finite boundary, PromQL rule).
    * Bucketing is a codegen'd projection; the rest is one aggregate on
    * (type, day, bucket) + windowed cumulative pick — at 100 TB the
    * bucket counts are exactly what a TSDB pre-aggregates at ingest, so
    * the query-time work is 7 rows per series-day. Both engines run the
    * identical closed formula on exact integer counts, so the doubles
    * agree bit-for-bit. */
  val qTsHistogramQuantile: Q = (s, d) => {
    val bounds = "array(10.0D, 25.0D, 50.0D, 100.0D, 200.0D, 400.0D)"
    val gw = Window.partitionBy("event_type", "dd")
    val cw = gw.orderBy("bi")
    Tables.events(s, d)
      .withColumn("dd", date_trunc("day", col("ts")).cast("date"))
      .withColumn("bi", expr(s"size(filter($bounds, x -> value > x))"))
      .groupBy("event_type", "dd", "bi")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum("cnt").over(cw))
      .withColumn("total", sum("cnt").over(gw))
      .withColumn("target", expr("cast(0.9 as double)") * col("total"))
      .filter(col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .withColumn("lo", expr(s"if(bi = 0, 0.0D, element_at($bounds, bi))"))
      .withColumn("p90", Num.roundd(
        when(col("bi") === 6, lit(400.0)).otherwise(
          col("lo") + (expr(s"element_at($bounds, bi + 1)") - col("lo")) *
            (col("target") - (col("cum") - col("cnt"))) / col("cnt")), 4))
      .select(col("event_type"), col("dd"), col("total").as("n"), col("p90"))
      .orderBy("event_type", "dd")
  }

  /** Absent-series detection (PromQL `absent()` / dead-sensor sweep): every
    * (user, event_type) series ever seen whose LAST event precedes the
    * start of the dataset's most recent day — the monitoring query that
    * pages on sensors that stopped reporting. One hash aggregate over the
    * events plus a broadcast 1-row cutoff; linear, single shuffle, and at
    * 100 TB the aggregate reads only the (user_id, event_type, ts) columns
    * (column-pruned scan), while the last-day cutoff comes from partition
    * metadata for free in the by-day layout. */
  val qTsAbsent: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val cutoff = ev.agg(date_trunc("day", max("ts")).as("cutoff"))
    ev.groupBy("user_id", "event_type")
      .agg(max("ts").as("last_seen"), count(lit(1)).as("n"))
      .join(broadcast(cutoff))
      .filter(col("last_seen") < col("cutoff"))
      .select("user_id", "event_type", "n", "last_seen")
      .orderBy("user_id", "event_type")
  }

  /** CUSUM change-point screen per (event_type, day): the one-sided
    * cumulative-sum statistic S' = max(0, S + (x − μ)) over the day's
    * hourly value sums, alarming when S exceeds h = μ/2 — the classic
    * drift detector (Page 1954) a TSDB runs beside threshold alerts
    * because it catches slow level shifts thresholds miss. Sequential
    * recurrence ⇒ the same day-chunked codegen'd `aggregate` fold as
    * Holt/EWMA (O(day hours) state per group, cross-group parallel);
    * inputs are pre-rounded hourly sums and a pre-rounded day mean, so
    * both engines run the identical IEEE sequence, and the oracle is an
    * independent recursive CTE. Emits final S, max S, and alarm count. */
  val qTsCusum: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(Num.roundd(sum("value"), 6).as("sv"))
      .groupBy(col("event_type"), date_trunc("day", col("h")).cast("date").as("dday"))
      .agg(sort_array(collect_list(struct(col("h"), col("sv")))).as("pts"),
        count(lit(1)).as("n_hours"),
        Num.roundd(sum("sv"), 8).as("ssv"))
      .withColumn("mu", Num.roundd(col("ssv") / col("n_hours"), 6))
      .withColumn("hthr", Num.roundd(col("mu") * 0.5, 6))
      .withColumn("st", expr(
        "aggregate(transform(pts, p -> p.sv), " +
          "named_struct('pos', 0.0d, 'mx', 0.0d, 'al', 0L), " +
          "(acc, x) -> named_struct(" +
          "'pos', greatest(0.0d, acc.pos + (x - mu)), " +
          "'mx', greatest(acc.mx, greatest(0.0d, acc.pos + (x - mu))), " +
          "'al', acc.al + if(greatest(0.0d, acc.pos + (x - mu)) > hthr, 1L, 0L)))"))
      .select(col("event_type"), col("dday"), col("n_hours"), col("mu"),
        Num.roundd(col("st.pos"), 6).as("cusum_end"),
        Num.roundd(col("st.mx"), 6).as("cusum_max"),
        col("st.al").as("n_alarms"))
      .orderBy("event_type", "dday")

  /** Seasonal decomposition of the hourly event-count series per
    * event_type: trend = centered 25-hour moving average (rows frame, full
    * windows only), seasonal = mean DETRENDED count per hour-of-day — the
    * classical-decomposition seasonal index behind capacity planning.
    * Exactness trick: the detrended value cnt − Σ₂₅/25 is carried as the
    * exact INTEGER 25·cnt − Σ₂₅, summed losslessly per hour-of-day, and
    * divided once at the end — so the double result is order-free and
    * bit-identical in both engines (same device as q_ts_corr_pair's
    * integer moments). Two window passes + one hash agg, all partitioned
    * by series; hours with zero events are absent from the hourly grid in
    * both engines alike (row-frame windows see the same rows). */
  val qTsSeasonalDecomp: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(-12, 12)
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("s25", sum("cnt").over(w))
      .filter(col("wn") === 25)
      .withColumn("hod", hour(col("h")).cast("long"))
      .groupBy("event_type", "hod")
      .agg(count(lit(1)).as("n"),
        sum(col("cnt") * 25 - col("s25")).as("isum"))
      .select(col("event_type"), col("hod"), col("n"),
        Num.roundd(col("isum").cast("double") / (col("n") * 25.0), 6).as("seasonal"))
      .orderBy("event_type", "hod")
  }

  /** Cumulative LTV curve by signup-week cohort: per (cohort week,
    * week offset) the cohort's purchase revenue that week and the
    * cumulative lifetime value per user — the revenue companion of
    * [[qTsCohort]]'s retention triangle ("how much has the week-2
    * cohort earned us by week 4"). Revenue is exact cents from the
    * 2-decimal value; cohort sizes and week indices are exact longs;
    * LTV is the prefix-windowed cumulative divided ONCE at the report.
    * Weeks with zero revenue simply have no row — the cumulative
    * carries across the gap identically on both engines. Two user-keyed
    * hash aggregates + one key join; the triangle is weeks² rows. */
  val qUserLtvCohort: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(expr("datediff(cast(ts as date), DATE '2024-01-01') div 7")).cast("long").as("cw"))
    val cs = su.groupBy("cw").agg(count(lit(1)).as("n_users"))
    val pu = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"),
        expr("datediff(cast(ts as date), DATE '2024-01-01') div 7").cast("long").as("pw"),
        expr("cast(round(value * 100.0) as bigint)").as("cents"))
    val rv = su.join(pu, col("user_id") === col("pu") && col("pw") >= col("cw"))
      .groupBy(col("cw"), (col("pw") - col("cw")).as("offset_w"))
      .agg(sum("cents").as("rev"))
    val wc = Window.partitionBy("cw").orderBy("offset_w")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rv.join(broadcast(cs), "cw")
      .withColumn("cum", sum("rev").over(wc))
      .select(col("cw").as("cohort_week"), col("offset_w"), col("n_users"),
        Num.roundd(col("rev").cast("double") / 100.0, 2).as("revenue"),
        Num.roundd(col("cum").cast("double") / (col("n_users") * 100L).cast("double"), 6).as("ltv"))
      .orderBy("cohort_week", "offset_w")
  }

  /** Local-timezone daily rollup: the UTC event stream aggregated by
    * AMERICA/NEW_YORK calendar day — the "our business day" report every
    * multi-region TSDB must answer, where day boundaries sit at 05:00
    * UTC (EST), not midnight. Conversion runs through the IANA tz
    * database on BOTH engines (Spark from_utc_timestamp ≡ DuckDB double
    * AT TIME ZONE), so offsets — including DST transitions in longer
    * windows — agree by construction rather than by hand-coded offset.
    * One hash aggregate; the tz conversion is a codegen'd scalar in the
    * scan projection. */
  val qTsLocalDay: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(expr("cast(date_trunc('day', from_utc_timestamp(cast(ts as timestamp), 'America/New_York')) as date)").as("nyday"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("nyday", "event_type")

  /** Exclusion funnel: signup → purchase conversion WITHOUT an
    * intervening error — the funnel variant product analytics actually
    * needs ("did checkout errors cost us conversions?"), which a plain
    * two-step funnel can't see. Per user: first signup, first purchase
    * after it, and whether any error fell strictly between; rolled up by
    * signup day into converted/error-tainted/unconverted counts.
    *
    * One scan → three conditional min aggregates per user (signup,
    * purchase-after, error-between run over the same user shuffle), then
    * a days-sized rollup. The error-between test uses the min-purchase
    * bound, so "between" means inside the conversion interval that
    * actually counted. */
  val qTsFunnelExclusion: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("sts"))
    // r18: a rotate pin of this 2×-consumed per-user frame was measured and
    // REJECTED (0.32 → 0.37-0.39 s): the duplicated ev ⋈ su branches
    // overlap inside one job at sf0.1; the pin's barrier loses slightly.
    val joined = ev.join(su, "user_id")
      .groupBy(col("user_id"), col("sts"))
      .agg(min(when(col("event_type") === "purchase" && col("ts") > col("sts"), col("ts"))).as("pts"))
    val withErr = ev.filter(col("event_type") === "error")
      .join(joined.filter(col("pts").isNotNull), "user_id")
      .filter(col("ts") > col("sts") && col("ts") < col("pts"))
      .select("user_id").distinct()
      .withColumn("tainted", lit(1L))
    joined.join(withErr, Seq("user_id"), "left")
      .groupBy(date_trunc("day", col("sts")).cast("date").as("sday"))
      .agg(count(lit(1)).as("n_signup"),
        sum(when(col("pts").isNotNull, 1L).otherwise(0L)).as("n_converted"),
        sum(when(col("pts").isNotNull && col("tainted").isNotNull, 1L).otherwise(0L)).as("n_tainted"),
        sum(when(col("pts").isNotNull && col("tainted").isNull, 1L).otherwise(0L)).as("n_clean"))
      .withColumn("clean_rate",
        Num.roundd(col("n_clean").cast("double") / col("n_signup").cast("double"), 4))
      .orderBy("sday")
  }

  /** Max-duration-capped sessionization: a session ends after 30 min of
    * inactivity OR when it reaches 2 h of total duration — the analytics
    * -suite session rule (uncapped gap sessions let a slow crawler string
    * one session across a week). The cap makes this a TRUE RECURRENCE:
    * whether an event opens a session depends on the CURRENT session's
    * start, which no fixed window frame can express — so it rides the
    * same chunked-fold machinery as the greedy packer / rate limiter (one
    * codegen'd `aggregate` per user's sorted event list, exact integer µs
    * throughout), and the oracle is an independent recursive CTE. Per-key
    * state is the user's events — the sessionization bound that already
    * holds for q_ts_session. Emits per-session (start, events, duration);
    * q_stream_session's gap-only islands are the cap→∞ special case. */
  val qTsSessionCapped: Q = (s, d) => {
    val GAP = 1800000000L  // 30 min
    val CAP = 7200000000L  // 2 h
    // r17: the fold runs in the native graft_sessionize generator, which
    // emits per-SESSION rows straight off the sorted list. The previous
    // declarative aggregate built its output with concat(out, array(x))
    // — O(n²) struct copies per user — then EXPLODED corpus-sized
    // (tus, sst) rows into a corpus-sized re-aggregation (the hash
    // aggregate pair rode the existing user partitioning, so the cost
    // was the exploded row volume + hash table, not a new exchange)
    // just to re-group rows that are contiguous runs of the sort.
    // Session starts strictly increase per user, so the generator's
    // rows ARE the former groups (byte-parity pinned in FunctionsSpec).
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"), col("event_id"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("tus"), col("event_id")))).as("es"))
      .select(col("user_id"), expr(s"graft_sessionize(es, ${GAP}L, ${CAP}L)"))
      .select(col("user_id"),
        expr("cast(timestamp_micros(sst) as timestamp_ntz)").as("s_start"),
        col("n_events"), col("dur_s"))
      .orderBy("user_id", "s_start")
  }

  /** Trailing-ONE-HOUR window per event — a true time-interval RANGE
    * frame, not a row count: each event sees the count and mean of its
    * type over [ts − 1 h, ts]. ROWS frames lie whenever density varies
    * (a "last 24 points" frame spans minutes at peak and days at night);
    * the RANGE frame is the honest TSDB sliding window.
    *
    * Spark expresses the interval frame as `rangeBetween` over the exact
    * epoch-µs order key (−3 600 000 000 .. 0, both ends inclusive);
    * DuckDB writes RANGE BETWEEN INTERVAL 1 HOUR PRECEDING natively —
    * identical peer semantics on tied timestamps. Sums accumulate exact
    * cents; one divide at the end. One shuffle on event_type, frames
    * evaluate as a two-pointer over each key's sorted run — linear per
    * partition, so the shape survives any scale-up of events per type
    * (the partition key at 100 TB is (type, day) with a 1-hour overlap
    * carry, the standard bounded-frame sharding). */
  val qTsRangeFrame: Q = (s, d) => {
    val w = Window.partitionBy("event_type").orderBy("tus")
      .rangeBetween(-3600000000L, Window.currentRow)
    Tables.events(s, d)
      .withColumn("tus", expr("unix_micros(cast(ts as timestamp))"))
      .withColumn("cents", expr("cast(round(value * 100.0) as bigint)"))
      .select(col("event_id"), col("event_type"), col("ts"),
        count(lit(1)).over(w).as("n_1h"),
        sum("cents").over(w).as("sc"))
      .select(col("event_id"), col("event_type"), col("ts"), col("n_1h"),
        Num.roundd(col("sc").cast("double") / (col("n_1h").cast("double") * 100.0), 6).as("mean_1h"))
      .orderBy("event_id")
  }

  /** Session minutes per hour — occupancy accounting: every 30-min-gap
    * session's duration is allocated EXACTLY across the hour buckets it
    * spans (a 14:50–15:20 session contributes 10 min to 14:00 and 20 min
    * to 15:00), the arithmetic behind concurrency heatmaps and
    * time-weighted billing. The interval→bucket explosion is
    * [[graft.functions.TimeSlices]] — a native Catalyst GENERATOR (the
    * UDTF extension rung): the analyzer wraps it in Generate, so the
    * fan-out runs map-side inside the session rollup, ≤ span/width rows
    * per session, no shuffle beyond the sessionize itself. Zero-duration
    * (single-event) sessions register presence with 0 minutes. All
    * overlap arithmetic is exact integer µs; one divide at the end. */
  val qTsSessionHours: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val w = Window.partitionBy("user_id").orderBy("ts")
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("ts"))
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull || expr("ts - prev_ts > INTERVAL '30' MINUTE"), 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(w))
      .groupBy("user_id", "sid")
      .agg(expr("unix_micros(cast(min(ts) as timestamp))").as("s_us"),
        expr("unix_micros(cast(max(ts) as timestamp))").as("e_us"))
    sess.select(expr("graft_time_slices(s_us, e_us, 3600000000)"))
      .groupBy(expr("cast(timestamp_micros(slice_us) as timestamp_ntz)").as("h"))
      .agg(count(lit(1)).as("n_sessions"),
        Num.roundd(sum("ov_us").cast("double") / 60000000.0, 4).as("mins"))
      .orderBy("h")
  }

  val all: Seq[(String, Q, String)] = Seq(
    ("q_ts_local_day", qTsLocalDay,
      "SELECT CAST(date_trunc('day', (ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York') AS DATE) nyday, " +
        "event_type, CAST(count(*) AS BIGINT) cnt, round(sum(value), 2) sv " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    ("q_ts_funnel_exclusion", qTsFunnelExclusion,
      "WITH su AS (SELECT user_id, min(ts) sts FROM events WHERE event_type = 'signup' GROUP BY 1), " +
        "j AS (SELECT e.user_id, su.sts, " +
        "min(CASE WHEN e.event_type = 'purchase' AND e.ts > su.sts THEN e.ts END) pts " +
        "FROM events e JOIN su ON su.user_id = e.user_id GROUP BY 1, 2), " +
        "err AS (SELECT DISTINCT e.user_id FROM events e JOIN j ON j.user_id = e.user_id " +
        "WHERE j.pts IS NOT NULL AND e.event_type = 'error' AND e.ts > j.sts AND e.ts < j.pts) " +
        "SELECT CAST(date_trunc('day', j.sts) AS DATE) sday, CAST(count(*) AS BIGINT) n_signup, " +
        "CAST(sum(CASE WHEN j.pts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_converted, " +
        "CAST(sum(CASE WHEN j.pts IS NOT NULL AND err.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_tainted, " +
        "CAST(sum(CASE WHEN j.pts IS NOT NULL AND err.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_clean, " +
        "round(CAST(sum(CASE WHEN j.pts IS NOT NULL AND err.user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) clean_rate " +
        "FROM j LEFT JOIN err ON err.user_id = j.user_id GROUP BY 1 ORDER BY 1"),
    ("q_ts_session_capped", qTsSessionCapped,
      "WITH RECURSIVE t AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) tus, " +
        "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) i FROM events), " +
        "rec AS (" +
        "SELECT user_id, i, tus, tus ss FROM t WHERE i = 1 " +
        "UNION ALL " +
        "SELECT t.user_id, t.i, t.tus, " +
        "CASE WHEN t.tus - r.tus > 1800000000 OR t.tus - r.ss > 7200000000 THEN t.tus ELSE r.ss END " +
        "FROM rec r JOIN t ON t.user_id = r.user_id AND t.i = r.i + 1) " +
        "SELECT user_id, make_timestamp(ss) s_start, CAST(count(*) AS BIGINT) n_events, " +
        "CAST((max(tus) - min(tus)) // 1000000 AS BIGINT) dur_s " +
        "FROM rec GROUP BY 1, 2 ORDER BY 1, 2"),
    ("q_ts_session_hours", qTsSessionHours,
      "WITH m AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END new_s FROM events), " +
        "se AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) sid FROM m), " +
        "sess AS (SELECT user_id, sid, CAST(epoch_us(min(ts)) AS BIGINT) s_us, " +
        "CAST(epoch_us(max(ts)) AS BIGINT) e_us FROM se GROUP BY 1, 2), " +
        "sl AS (SELECT s_us, e_us, unnest(range((s_us // 3600000000) * 3600000000, " +
        "greatest(e_us, s_us + 1), 3600000000)) b FROM sess), " +
        "o AS (SELECT CAST(b AS BIGINT) slice_us, " +
        "least(e_us, b + 3600000000) - greatest(s_us, b) ov_us FROM sl) " +
        "SELECT make_timestamp(slice_us) h, CAST(count(*) AS BIGINT) n_sessions, " +
        "round(CAST(sum(ov_us) AS DOUBLE) / 60000000.0, 4) mins " +
        "FROM o GROUP BY 1 ORDER BY 1"),
    ("q_ts_range_frame", qTsRangeFrame,
      "WITH t AS (SELECT event_id, event_type, ts, CAST(round(value * 100.0) AS BIGINT) cents FROM events), " +
        "w AS (SELECT event_id, event_type, ts, CAST(count(*) OVER f AS BIGINT) n_1h, " +
        "CAST(sum(cents) OVER f AS BIGINT) sc FROM t " +
        "WINDOW f AS (PARTITION BY event_type ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, event_type, ts, n_1h, " +
        "round(CAST(sc AS DOUBLE) / (n_1h * 100.0), 6) mean_1h FROM w ORDER BY event_id"),
    ("q_ts_tumbling", qTsTumbling,
      "SELECT date_trunc('hour', ts) w, event_type, count(*) cnt, round(sum(value),2) sv, round(round(sum(value),8)/count(*),4) av FROM events GROUP BY 1,2 ORDER BY 1,2"),
    ("q_ts_downsample_day", qTsDownsampleDay,
      "SELECT date_trunc('day', ts) d, event_type, count(*) cnt, round(min(value),2) mn, round(max(value),2) mx, round(round(sum(value),8)/count(*),4) av FROM events GROUP BY 1,2 ORDER BY 1,2"),
    ("q_ts_sliding", qTsSliding,
      "SELECT ws.w, count(*) cnt FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 15 MINUTE)) w) ws JOIN events e ON e.ts >= ws.w AND e.ts < ws.w + INTERVAL 1 HOUR GROUP BY ws.w ORDER BY ws.w"),
    ("q_ts_session", qTsSession,
      "WITH marked AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END new_s FROM events), sess AS (SELECT user_id, ts, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) sid FROM marked) SELECT user_id, sid, count(*) n_events, CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) dur_s FROM sess GROUP BY user_id, sid ORDER BY user_id, sid"),
    ("q_ts_gapfill", qTsGapfill,
      "WITH hours AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), agg AS (SELECT date_trunc('hour', ts) h, round(sum(value),2) sv FROM events GROUP BY 1) SELECT hours.h, coalesce(agg.sv, 0.0) sv FROM hours LEFT JOIN agg ON hours.h=agg.h ORDER BY hours.h"),
    ("q_ts_last_point", qTsLastPoint,
      "SELECT user_id, max_by(value, ts) last_value, max(ts) last_ts FROM events GROUP BY user_id ORDER BY user_id"),
    ("q_ts_delta", qTsDelta,
      "SELECT user_id, ts, round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id),4) delta FROM events ORDER BY user_id, ts, event_id LIMIT 5000"),
    ("q_ts_topk_per_day", qTsTopkPerDay,
      "SELECT d, user_id, cnt, rn FROM (SELECT date_trunc('day',ts) d, user_id, count(*) cnt, CAST(row_number() OVER (PARTITION BY date_trunc('day',ts) ORDER BY count(*) DESC, user_id) AS BIGINT) rn FROM events GROUP BY 1,2) WHERE rn<=5 ORDER BY d, rn"),
    ("q_ts_histogram", qTsHistogram,
      "SELECT floor(value/50)*50 bucket, count(*) cnt FROM events GROUP BY 1 ORDER BY 1"),
    ("q_ts_percentile", qTsPercentile,
      "SELECT event_type, round(quantile_cont(value, 0.5),4) p50, round(quantile_cont(value, 0.95),4) p95, count(*) cnt FROM events GROUP BY event_type ORDER BY event_type"),
    ("q_ts_locf", qTsLocf,
      "WITH hours AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), agg AS (SELECT date_trunc('hour', ts) h, round(sum(value),2) sv FROM events GROUP BY 1), j AS (SELECT hours.h, agg.sv FROM hours LEFT JOIN agg ON hours.h=agg.h) SELECT h, last_value(sv IGNORE NULLS) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sv_locf FROM j ORDER BY h"),
    ("q_ts_lerp", qTsLerp,
      "WITH hours AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "agg AS (SELECT date_trunc('hour', ts) h, round(sum(value),2) sv FROM events GROUP BY 1), " +
        "j AS (SELECT hours.h, agg.sv FROM hours LEFT JOIN agg ON hours.h=agg.h), " +
        "p AS (SELECT h, sv, " +
        "last_value(sv IGNORE NULLS) OVER wp pv, " +
        "last_value(CASE WHEN sv IS NOT NULL THEN h END IGNORE NULLS) OVER wp pt, " +
        "first_value(sv IGNORE NULLS) OVER wn nv, " +
        "first_value(CASE WHEN sv IS NOT NULL THEN h END IGNORE NULLS) OVER wn nt " +
        "FROM j WINDOW wp AS (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wn AS (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT h, round(CASE WHEN sv IS NOT NULL THEN sv WHEN pv IS NULL THEN NULL WHEN nv IS NULL THEN pv " +
        "ELSE pv + (nv - pv) * (CAST(epoch_us(h) - epoch_us(pt) AS DOUBLE) / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE)) END, 4) sv_lerp " +
        "FROM p ORDER BY h"),
    ("q_ts_rate", qTsRate,
      "SELECT user_id, ts, round((value - lag(value) OVER w) / (CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE) / 1000000.0), 6) rate FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) ORDER BY user_id, ts, event_id LIMIT 5000"),
    ("q_ts_rate_resets", qTsRateResets,
      "SELECT user_id, ts, round((CASE WHEN lag(value) OVER w IS NULL THEN NULL " +
        "WHEN value >= lag(value) OVER w THEN value - lag(value) OVER w ELSE value END) / " +
        "(CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE) / 1000000.0), 6) rate " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY user_id, ts, event_id LIMIT 5000"),
    ("q_ts_changes", qTsChanges,
      "WITH m AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) dd, " +
        "CASE WHEN value <> lag(value) OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE) ORDER BY ts, event_id) THEN 1 ELSE 0 END chg " +
        "FROM events) " +
        "SELECT user_id, dd, CAST(sum(chg) AS BIGINT) changes, count(*) n FROM m GROUP BY 1, 2 ORDER BY 1, 2"),
    ("q_ts_irate", qTsIrate,
      "WITH m AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) dd, value, ts, " +
        "lag(value) OVER w prev_v, lag(ts) OVER w prev_ts, " +
        "row_number() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE) ORDER BY ts DESC, event_id DESC) rn " +
        "FROM events WINDOW w AS (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE) ORDER BY ts, event_id)) " +
        "SELECT user_id, dd, round((CASE WHEN value >= prev_v THEN value - prev_v ELSE value END) / " +
        "(CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE) / 1000000.0), 6) irate " +
        "FROM m WHERE rn = 1 AND prev_ts IS NOT NULL ORDER BY user_id, dd"),
    ("q_ts_heatmap", qTsHeatmap,
      "SELECT CAST(extract(hour FROM ts) AS BIGINT) hod, CAST(floor(value / 10) * 10 AS BIGINT) vbucket, count(*) cnt " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    ("q_ts_deriv", qTsDeriv,
      "WITH m AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) dd, count(*) n, " +
        "round(sum(CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1000000.0), 4) st, " +
        "round(sum(value), 4) sv, " +
        "round(sum((CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1000000.0) * value), 4) stv, " +
        "round(sum((CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1000000.0) * (CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1000000.0)), 4) stt " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT event_type, dd, round((n * stv - st * sv) / (n * stt - st * st), 8) slope " +
        "FROM m ORDER BY event_type, dd"),
    ("q_ts_increase", qTsIncrease,
      "WITH dl AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) d, value - lag(value) OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE) ORDER BY ts, event_id) delta FROM events) SELECT user_id, d, round(sum(CASE WHEN delta > 0 THEN delta ELSE 0.0 END), 2) inc FROM dl GROUP BY user_id, d ORDER BY user_id, d"),
    ("q_ts_moving_avg", qTsMovingAvg,
      "WITH hourly AS (SELECT event_type, CAST(epoch_us(date_trunc('hour', ts)) / 1000000 AS BIGINT) hs, round(sum(value),2) sv FROM events GROUP BY 1,2) SELECT event_type, make_timestamp(hs * 1000000) h, sv, round(round(sum(sv) OVER w, 8) / count(*) OVER w, 4) mov FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hs RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW) ORDER BY event_type, h"),
    ("q_ts_retention", qTsRetention,
      "WITH daily AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) d, user_id FROM events), c AS (SELECT d, count(*) n_users FROM daily GROUP BY d), r AS (SELECT a.d, count(*) retained FROM daily a JOIN daily b ON b.user_id = a.user_id AND b.d = a.d + 1 GROUP BY a.d) SELECT c.d, c.n_users, r.retained, round(CAST(r.retained AS DOUBLE) / c.n_users, 4) rate FROM c JOIN r ON c.d = r.d ORDER BY c.d"),
    ("q_ts_funnel", qTsFunnel,
      "WITH v AS (SELECT user_id, min(ts) t_view FROM events WHERE event_type = 'view' GROUP BY user_id) SELECT v.user_id, v.t_view, min(e.ts) t_purchase FROM v JOIN events e ON e.user_id = v.user_id AND e.event_type = 'purchase' AND e.ts > v.t_view AND e.ts <= v.t_view + INTERVAL 1 HOUR GROUP BY v.user_id, v.t_view ORDER BY v.user_id"),
    ("q_ts_rollup_time", qTsRollupTime,
      "WITH dg AS (SELECT CAST(extract(year FROM ts) AS BIGINT) y, CAST(extract(month FROM ts) AS BIGINT) m, " +
        "CAST(extract(day FROM ts) AS BIGINT) dd, count(*) cnt, round(sum(value), 2) sv FROM events GROUP BY 1, 2, 3) " +
        "SELECT y, m, dd, CAST(sum(cnt) AS BIGINT) cnt, round(round(sum(sv), 8), 2) sv FROM dg " +
        "GROUP BY ROLLUP(y, m, dd) ORDER BY y NULLS FIRST, m NULLS FIRST, dd NULLS FIRST"),
    ("q_ts_ewma", qTsEwma,
      "WITH hv AS (SELECT event_type, date_trunc('hour', ts) h, round(sum(value), 6) sv FROM events GROUP BY 1, 2), " +
        "dl AS (SELECT event_type, CAST(date_trunc('day', h) AS DATE) AS \"day\", list(sv ORDER BY h) vs FROM hv GROUP BY 1, 2) " +
        "SELECT event_type, \"day\", round(list_reduce(vs, (acc, x) -> 0.3 * x + 0.7 * acc), 6) ewma " +
        "FROM dl ORDER BY event_type, \"day\""),
    ("q_ts_anomaly", qTsAnomaly,
      "WITH hv AS (SELECT event_type, date_trunc('hour', ts) h, count(*) c FROM events GROUP BY 1, 2), " +
        "wz AS (SELECT event_type, h, c, count(*) OVER w n24, " +
        "CAST(sum(c) OVER w AS DOUBLE) / count(*) OVER w mu, " +
        "round(stddev_samp(c) OVER w, 6) sd " +
        "FROM hv WINDOW w AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_type, h, c, round((c - mu) / sd, 3) z FROM wz " +
        "WHERE n24 = 24 AND sd > 0 AND abs(round((c - mu) / sd, 3)) > 2 ORDER BY event_type, h"),
    ("q_ts_twa", qTsTwa,
      "WITH e AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) dday, ts, event_id, value, epoch_us(ts) us FROM events), " +
        "seg AS (SELECT user_id, dday, value, lead(us) OVER (PARTITION BY user_id, dday ORDER BY ts, event_id) - us dt FROM e) " +
        "SELECT user_id, dday, count(*) n_seg, round(sum(value * dt) / sum(dt), 6) twa " +
        "FROM seg WHERE dt IS NOT NULL GROUP BY user_id, dday ORDER BY user_id, dday"),
    ("q_ts_ohlc", qTsOhlc,
      "SELECT date_trunc('hour', ts) h, event_type, arg_min(value, ts) \"open\", max(value) high, " +
        "min(value) low, arg_max(value, ts) \"close\", count(*) n FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    ("q_ts_asof_nearest", qTsAsofNearest,
      "WITH probes AS (SELECT user_id k, CAST(date_trunc('day', ts) AS TIMESTAMP) pt FROM events GROUP BY 1, 2), " +
        "pairs AS (SELECT k, pt, e.value v, row_number() OVER (PARTITION BY k, pt " +
        "ORDER BY abs(epoch_us(e.ts) - epoch_us(pt)), e.ts) rn FROM probes JOIN events e ON e.user_id = k) " +
        "SELECT k, pt, v FROM pairs WHERE rn = 1 ORDER BY k, pt"),
    ("q_ts_error_ratio", qTsErrorRatio,
      "SELECT date_trunc('hour', ts) h, CAST(count(*) FILTER (event_type = 'error') AS BIGINT) errors, " +
        "CAST(count(*) AS BIGINT) total, " +
        "round(CAST(count(*) FILTER (event_type = 'error') AS DOUBLE) / count(*), 6) ratio " +
        "FROM events GROUP BY 1 ORDER BY 1"),
    ("q_ts_threshold_cross", qTsThresholdCross,
      "WITH hv AS (SELECT event_type, date_trunc('hour', ts) h, round(sum(value), 2) sv FROM events GROUP BY 1, 2), " +
        "lg AS (SELECT event_type, h, sv, lag(sv) OVER (PARTITION BY event_type ORDER BY h) prev_sv FROM hv) " +
        "SELECT event_type, h, prev_sv, sv FROM lg WHERE sv > 400.0 AND prev_sv <= 400.0 ORDER BY event_type, h"),
    ("q_ts_cohort", qTsCohort,
      "WITH daily AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) d FROM events), " +
        "f AS (SELECT user_id, d, min(d) OVER (PARTITION BY user_id) fd FROM daily), " +
        "g AS (SELECT fd cohort_day, CAST(d - fd AS BIGINT) offset_d, CAST(count(*) AS BIGINT) n_users " +
        "FROM f WHERE d - fd <= 7 GROUP BY 1, 2) " +
        "SELECT cohort_day, offset_d, n_users, " +
        "round(CAST(n_users AS DOUBLE) / sum(CASE WHEN offset_d = 0 THEN n_users ELSE 0 END) OVER (PARTITION BY cohort_day), 4) rate " +
        "FROM g ORDER BY cohort_day, offset_d"),
    ("q_user_ltv_cohort", qUserLtvCohort,
      "WITH su AS (SELECT user_id, CAST(min(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7) AS BIGINT) cw " +
        "FROM events WHERE event_type = 'signup' GROUP BY 1), " +
        "cs AS (SELECT cw, CAST(count(*) AS BIGINT) n_users FROM su GROUP BY 1), " +
        "pu AS (SELECT user_id, CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) pw, " +
        "CAST(round(value * 100.0) AS BIGINT) cents FROM events WHERE event_type = 'purchase'), " +
        "rv AS (SELECT su.cw, pu.pw - su.cw offset_w, CAST(sum(pu.cents) AS BIGINT) rev " +
        "FROM su JOIN pu ON pu.user_id = su.user_id AND pu.pw >= su.cw GROUP BY 1, 2) " +
        "SELECT rv.cw cohort_week, rv.offset_w, cs.n_users, " +
        "round(CAST(rv.rev AS DOUBLE) / 100.0, 2) revenue, " +
        "round(CAST(sum(rv.rev) OVER (PARTITION BY rv.cw ORDER BY rv.offset_w " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / (cs.n_users * 100), 6) ltv " +
        "FROM rv JOIN cs ON cs.cw = rv.cw ORDER BY 1, 2"),
    ("q_ts_gaps", qTsGaps,
      "WITH g AS (SELECT event_type, lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) prev_ts, ts FROM events) " +
        "SELECT event_type, prev_ts gap_start, ts gap_end, CAST(date_diff('second', prev_ts, ts) AS BIGINT) gap_s " +
        "FROM g WHERE ts - prev_ts > INTERVAL 60 MINUTE ORDER BY event_type, gap_start"),
    ("q_ts_corr_pair", qTsCorrPair,
      "WITH hourly AS (SELECT date_trunc('hour', ts) h, " +
        "CAST(count(*) FILTER (event_type = 'click') AS BIGINT) x, " +
        "CAST(count(*) FILTER (event_type = 'view') AS BIGINT) y FROM events GROUP BY 1), " +
        "m AS (SELECT CAST(date_trunc('day', h) AS DATE) dday, CAST(count(*) AS BIGINT) n_hours, " +
        "sum(x) sx, sum(y) sy, sum(x*y) sxy, sum(x*x) sxx, sum(y*y) syy FROM hourly GROUP BY 1) " +
        "SELECT dday, n_hours, round(CAST(n_hours*sxy - sx*sy AS DOUBLE) / " +
        "(sqrt(CAST(n_hours*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n_hours*syy - sy*sy AS DOUBLE))), 6) r " +
        "FROM m WHERE n_hours*sxx - sx*sx > 0 AND n_hours*syy - sy*sy > 0 ORDER BY dday"),
    // Oracle is a recursive CTE, NOT list_reduce: DuckDB 1.0.0's list_reduce
    // with a struct accumulator updates fields in place, so from the second
    // iteration the 'b' expression reads the freshly-written 'l' (verified
    // on a 3-element fold: acc.l = new l). Row-wise recursion has no such
    // aliasing; the arithmetic tree matches Spark's fold exactly.
    ("q_ts_holt", qTsHolt,
      "WITH RECURSIVE hv AS (SELECT event_type, date_trunc('hour', ts) h, round(sum(value), 6) sv FROM events GROUP BY 1, 2), " +
        "seq AS (SELECT event_type, CAST(date_trunc('day', h) AS DATE) dday, sv, " +
        "CAST(row_number() OVER (PARTITION BY event_type, date_trunc('day', h) ORDER BY h) AS BIGINT) i, " +
        "CAST(count(*) OVER (PARTITION BY event_type, date_trunc('day', h)) AS BIGINT) n FROM hv), " +
        "rec AS (" +
        "SELECT s2.event_type, s2.dday, s2.i, s2.n, s2.sv AS l, s2.sv - s1.sv AS b " +
        "FROM seq s2 JOIN seq s1 ON s1.event_type = s2.event_type AND s1.dday = s2.dday AND s1.i = 1 " +
        "WHERE s2.i = 2 AND s2.n >= 2 " +
        "UNION ALL " +
        "SELECT s.event_type, s.dday, s.i, s.n, " +
        "0.5::DOUBLE * s.sv + 0.5::DOUBLE * (r.l + r.b) AS l, " +
        "0.3::DOUBLE * ((0.5::DOUBLE * s.sv + 0.5::DOUBLE * (r.l + r.b)) - r.l) + 0.7::DOUBLE * r.b AS b " +
        "FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.dday = r.dday AND s.i = r.i + 1) " +
        "SELECT event_type, dday, round(l, 6) lvl, round(b, 6) trend, round(l + b, 6) fc1 " +
        "FROM rec WHERE i = n ORDER BY event_type, dday"),
    ("q_ts_asof_forward", qTsAsofForward,
      "WITH probes AS (SELECT user_id k, CAST(date_trunc('day', ts) AS TIMESTAMP) pt FROM events GROUP BY 1, 2), " +
        "pairs AS (SELECT probes.k, probes.pt, e.value v, " +
        "row_number() OVER (PARTITION BY probes.k, probes.pt ORDER BY e.ts ASC) rn " +
        "FROM probes JOIN events e ON e.user_id = probes.k AND e.ts >= probes.pt), " +
        "hit AS (SELECT k, pt, v FROM pairs WHERE rn = 1) " +
        "SELECT probes.k, probes.pt, hit.v FROM probes LEFT JOIN hit ON hit.k = probes.k AND hit.pt = probes.pt " +
        "ORDER BY probes.k, probes.pt"),
    ("q_ts_asof_tolerance", qTsAsofTolerance,
      "WITH probes AS (SELECT user_id k, CAST(date_trunc('day', ts) AS TIMESTAMP) pt FROM events GROUP BY 1, 2), " +
        "pairs AS (SELECT probes.k, probes.pt, e.value v, " +
        "row_number() OVER (PARTITION BY probes.k, probes.pt ORDER BY e.ts DESC) rn " +
        "FROM probes JOIN events e ON e.user_id = probes.k AND e.ts <= probes.pt " +
        "AND epoch_us(probes.pt) - epoch_us(e.ts) <= 21600000000), " +
        "hit AS (SELECT k, pt, v FROM pairs WHERE rn = 1) " +
        "SELECT probes.k, probes.pt, hit.v FROM probes LEFT JOIN hit ON hit.k = probes.k AND hit.pt = probes.pt " +
        "ORDER BY probes.k, probes.pt"),
    ("q_ts_asof_join", qTsAsofJoin,
      "SELECT o.o_orderkey, e.ts FROM (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 1000 = 0) o ASOF JOIN events e ON e.ts <= o.o_orderdate + INTERVAL 10585 DAY ORDER BY o.o_orderkey"),
    ("q_ts_predict_linear", qTsPredictLinear,
      "WITH m AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) dd, count(*) n, " +
        "round(sum(CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1000000.0), 4) st, " +
        "round(sum(value), 4) sv, " +
        "round(sum((CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1000000.0) * value), 4) stv, " +
        "round(sum((CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1000000.0) * (CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 1000000.0)), 4) stt " +
        "FROM events GROUP BY 1, 2), " +
        "k AS (SELECT event_type, dd, n, st, sv, round((n * stv - st * sv) / (n * stt - st * st), 8) slope FROM m), " +
        "ki AS (SELECT event_type, dd, slope, round((sv - slope * st) / n, 8) icept FROM k) " +
        "SELECT event_type, dd, round(slope * 90000.0 + icept, 4) pred FROM ki ORDER BY event_type, dd"),
    ("q_ts_resets", qTsResets,
      "WITH m AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) dd, " +
        "CASE WHEN value < lag(value) OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE) ORDER BY ts, event_id) THEN 1 ELSE 0 END rst " +
        "FROM events) " +
        "SELECT user_id, dd, CAST(sum(rst) AS BIGINT) resets, count(*) n FROM m GROUP BY 1, 2 ORDER BY 1, 2"),
    ("q_ts_quantile_time", qTsQuantileTime,
      "SELECT ws.w, round(quantile_cont(e.value, 0.9), 4) p90, count(*) cnt " +
        "FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-31', INTERVAL 15 MINUTE)) w) ws " +
        "JOIN events e ON e.ts >= ws.w AND e.ts < ws.w + INTERVAL 1 HOUR " +
        "GROUP BY ws.w ORDER BY ws.w"),
    ("q_ts_vector_ratio", qTsVectorRatio,
      "WITH h AS (SELECT date_trunc('hour', ts) h, " +
        "round(sum(CASE WHEN event_type = 'click' THEN value END), 2) clicks, " +
        "round(sum(CASE WHEN event_type = 'view' THEN value END), 2) vws " +
        "FROM events GROUP BY 1) " +
        "SELECT h, clicks, vws, round(clicks / vws, 6) ratio FROM h " +
        "WHERE clicks IS NOT NULL AND vws IS NOT NULL ORDER BY h"),
    ("q_ts_seasonal_naive", qTsSeasonalNaive,
      "WITH hr AS (SELECT event_type, date_trunc('hour', ts) h, round(sum(value), 2) sv FROM events GROUP BY 1, 2), " +
        "lg AS (SELECT event_type, h, sv, lag(sv, 168) OVER (PARTITION BY event_type ORDER BY h) expected FROM hr) " +
        "SELECT event_type, h, sv, expected, round(sv / expected, 6) ratio, " +
        "CAST(CASE WHEN abs(sv / expected - 1) > 0.5 THEN 1 ELSE 0 END AS BIGINT) anom " +
        "FROM lg WHERE expected IS NOT NULL ORDER BY event_type, h"),
    ("q_ts_histogram_quantile", qTsHistogramQuantile,
      "WITH e AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) dd, " +
        "len(list_filter([10.0, 25.0, 50.0, 100.0, 200.0, 400.0], x -> value > x)) bi FROM events), " +
        "g AS (SELECT event_type, dd, bi, count(*) cnt FROM e GROUP BY 1, 2, 3), " +
        "c AS (SELECT *, sum(cnt) OVER (PARTITION BY event_type, dd ORDER BY bi) cum, " +
        "sum(cnt) OVER (PARTITION BY event_type, dd) total FROM g), " +
        "s AS (SELECT *, CAST(0.9 AS DOUBLE) * total target FROM c), " +
        "p AS (SELECT *, CASE WHEN bi = 0 THEN 0.0 ELSE [10.0, 25.0, 50.0, 100.0, 200.0, 400.0][bi] END lo " +
        "FROM s WHERE cum >= target AND cum - cnt < target) " +
        "SELECT event_type, dd, CAST(total AS BIGINT) n, " +
        "round(CASE WHEN bi = 6 THEN 400.0 ELSE " +
        "lo + ([10.0, 25.0, 50.0, 100.0, 200.0, 400.0][bi + 1] - lo) * (target - (cum - cnt)) / cnt END, 4) p90 " +
        "FROM p ORDER BY event_type, dd"),
    ("q_ts_absent", qTsAbsent,
      "WITH p AS (SELECT user_id, event_type, max(ts) last_seen, CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2), " +
        "c AS (SELECT date_trunc('day', max(ts)) cutoff FROM events) " +
        "SELECT user_id, event_type, n, last_seen FROM p CROSS JOIN c " +
        "WHERE last_seen < cutoff ORDER BY user_id, event_type"),
    ("q_ts_cusum", qTsCusum,
      "WITH RECURSIVE hv AS (SELECT event_type, date_trunc('hour', ts) h, round(sum(value), 6) sv FROM events GROUP BY 1, 2), " +
        "seq AS (SELECT event_type, CAST(date_trunc('day', h) AS DATE) dday, sv, " +
        "CAST(row_number() OVER (PARTITION BY event_type, date_trunc('day', h) ORDER BY h) AS BIGINT) i, " +
        "CAST(count(*) OVER (PARTITION BY event_type, date_trunc('day', h)) AS BIGINT) n FROM hv), " +
        "g AS (SELECT event_type, dday, round(round(sum(sv), 8) / count(*), 6) mu, " +
        "round(round(round(sum(sv), 8) / count(*), 6) * 0.5, 6) hthr FROM seq GROUP BY 1, 2), " +
        "rec AS (" +
        "SELECT s.event_type, s.dday, s.i, s.n, g.mu, g.hthr, " +
        "greatest(0.0::DOUBLE, s.sv - g.mu) pos, greatest(0.0::DOUBLE, s.sv - g.mu) mx, " +
        "CAST(CASE WHEN greatest(0.0::DOUBLE, s.sv - g.mu) > g.hthr THEN 1 ELSE 0 END AS BIGINT) al " +
        "FROM seq s JOIN g ON g.event_type = s.event_type AND g.dday = s.dday WHERE s.i = 1 " +
        "UNION ALL " +
        "SELECT s.event_type, s.dday, s.i, s.n, r.mu, r.hthr, " +
        "greatest(0.0::DOUBLE, r.pos + (s.sv - r.mu)) pos, " +
        "greatest(r.mx, greatest(0.0::DOUBLE, r.pos + (s.sv - r.mu))) mx, " +
        "r.al + CASE WHEN greatest(0.0::DOUBLE, r.pos + (s.sv - r.mu)) > r.hthr THEN 1 ELSE 0 END al " +
        "FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.dday = r.dday AND s.i = r.i + 1) " +
        "SELECT event_type, dday, n n_hours, mu, round(pos, 6) cusum_end, round(mx, 6) cusum_max, al n_alarms " +
        "FROM rec WHERE i = n ORDER BY event_type, dday"),
    ("q_ts_seasonal_decomp", qTsSeasonalDecomp,
      "WITH hr AS (SELECT event_type, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) cnt FROM events GROUP BY 1, 2), " +
        "wf AS (SELECT event_type, h, cnt, " +
        "count(*) OVER (PARTITION BY event_type ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) wn, " +
        "sum(cnt) OVER (PARTITION BY event_type ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) s25 " +
        "FROM hr) " +
        "SELECT event_type, CAST(extract(hour FROM h) AS BIGINT) hod, CAST(count(*) AS BIGINT) n, " +
        "round(CAST(sum(cnt * 25 - s25) AS DOUBLE) / (count(*) * 25.0), 6) seasonal " +
        "FROM wf WHERE wn = 25 GROUP BY event_type, hod ORDER BY event_type, hod"),
  )
}
