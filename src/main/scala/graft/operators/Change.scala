package graft.operators

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-detection tier over the event stream — the operators that turn
  * the hourly metric panel into "when did this series change": the exact
  * two-segment changepoint (argmax between-segment sum-of-squares, the
  * offline CUSUM/binary-segmentation primitive), level-shift peaks
  * (before/after 24 h window mean jumps, integer-ranked), the
  * Page–Hinkley drift statistic (the sequential detector monitoring
  * stacks run online), and the rolling-origin forecast backtest
  * (seasonal-naive skill — the honesty check behind every forecaster).
  *
  * Determinism (SURVEY §2.0): every rank/flag decision is made on exact
  * integers or on doubles produced by the IDENTICAL expression tree over
  * exact integer sums on both engines (the Wilson-CI device) —
  * changepoint gain is (cx²/k + (S−cx)²/(N−k)) of exact longs;
  * level-shift ranks on |sa−sb| (exact long); Page–Hinkley folds
  * micro-unit longs (per-row term rounded once at 6 dp, then the
  * cumulative sum/min is order-free — the q_ts_drawdown device);
  * backtest MAE/RMSE numerators are exact integer sums divided once.
  *
  * Scale notes: every query aggregates the raw scan ONCE (map-side
  * combinable hash aggregate) into the gapless per-type hourly panel —
  * ≤ types × 720 rows regardless of event volume — and all windows ride
  * that panel. Nothing here grows with the corpus: the changepoint
  * argmax, the level-shift peaks, the PH fold and the backtest lags are
  * all time-bounded per series, embarrassingly parallel across types.
  */
object Change {
  type Q = (SparkSession, String) => DataFrame

  /** Grid length: 2024-01-01 00:00 .. 2024-01-30 23:00 inclusive. */
  private val N = 720L

  /** Gapless hour grid of the dataset's range (q_ts_gapfill bounds). */
  private def hourGrid(s: SparkSession): DataFrame = s.sql(
    "SELECT explode(sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00', TIMESTAMP_NTZ '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS h")

  /** (et, x, c) panel: per-type hourly event counts on the gapless grid
    * (absent hours are real zeros), x = hours since 2024-01-01 — the
    * shared series all four detectors read (the Fit-tier device). */
  private def hourlyPanel(s: SparkSession, d: String): DataFrame = {
    val types = Tables.events(s, d).select(col("event_type").as("et")).distinct()
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    types.crossJoin(broadcast(hourGrid(s)))
      .join(hourly, Seq("et", "h"), "left")
      .select(col("et"),
        expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', h)")
          .cast("long").as("x"),
        coalesce(col("c"), lit(0L)).as("c"))
  }

  private def gridHour(xc: String) =
    expr(s"timestampadd(HOUR, $xc, TIMESTAMP_NTZ '2024-01-01 00:00:00')")

  /** Exact two-segment changepoint per event_type: the split k (prefix
    * [0,k), suffix [k,N)) maximizing the between-segment sum of squares
    * cx²/k + (S−cx)²/(N−k) — equivalently minimizing total two-segment
    * SSE, since Σc² is split-invariant. One cumulative window over the
    * panel evaluates every candidate split; the argmax row_number ties
    * to the EARLIEST split. The gain doubles are single expressions of
    * exact longs — bit-identical cross-engine, so the argmax is
    * deterministic without any integer-ranking contortion. */
  val qTsChangepoint: Q = (s, d) => {
    val wc = Window.partitionBy("et").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("et")
    val g = hourlyPanel(s, d)
      .withColumn("cx", sum("c").over(wc))
      .withColumn("tot", sum("c").over(wp))
      .withColumn("k", col("x") + 1)
      .filter(col("k") < N)
      .withColumn("gain",
        col("cx").cast("double") * col("cx").cast("double") / col("k").cast("double") +
          (col("tot") - col("cx")).cast("double") * (col("tot") - col("cx")).cast("double") /
            (lit(N) - col("k")).cast("double"))
    val wr = Window.partitionBy("et").orderBy(col("gain").desc, col("k").asc)
    g.withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
      .select(col("et").as("event_type"),
        gridHour("k").as("split_h"),
        Num.roundd(col("cx").cast("double") / col("k"), 6).as("mean_before"),
        Num.roundd((col("tot") - col("cx")).cast("double") / (lit(N) - col("k")), 6).as("mean_after"),
        Num.roundd(col("gain") -
          col("tot").cast("double") * col("tot").cast("double") / lit(N.toDouble), 6).as("sse_drop"))
      .orderBy("event_type")
  }

  /** Level-shift peaks per event_type: at each hour with a full 24 h on
    * both sides, the jump between the trailing-24 h mean and the
    * leading-24 h mean (current hour opens the AFTER window). Peaks only
    * — |shift| must be ≥ its left neighbor and > its right neighbor
    * (plateau resolves to its rightmost hour) — then the top 3 per type.
    * Both the peak predicate and the rank key are |sa−sb|, an EXACT LONG
    * (equal 24-row windows ⇒ mean diff ∝ sum diff): no float ever
    * decides a rank. */
  val qTsLevelShift: Q = (s, d) => {
    val wo = Window.partitionBy("et").orderBy("x")
    val p = hourlyPanel(s, d)
      .withColumn("sb", sum("c").over(wo.rowsBetween(-24, -1)))
      .withColumn("cb", count(lit(1)).over(wo.rowsBetween(-24, -1)))
      .withColumn("sa", sum("c").over(wo.rowsBetween(0, 23)))
      .withColumn("ca", count(lit(1)).over(wo.rowsBetween(0, 23)))
      .filter(col("cb") === 24 && col("ca") === 24)
      .withColumn("sh", abs(col("sa") - col("sb")))
      .withColumn("pb", lag("sh", 1).over(wo))
      .withColumn("pf", lead("sh", 1).over(wo))
      .filter(col("sh") >= coalesce(col("pb"), lit(-1L)) &&
        col("sh") > coalesce(col("pf"), lit(-1L)))
    val wr = Window.partitionBy("et").orderBy(col("sh").desc, col("x").asc)
    p.withColumn("rn", row_number().over(wr)).filter(col("rn") <= 3)
      .select(col("et").as("event_type"), col("rn").cast("long").as("rank"),
        gridHour("x").as("h"),
        Num.roundd(col("sb").cast("double") / 24.0, 6).as("mean_before"),
        Num.roundd(col("sa").cast("double") / 24.0, 6).as("mean_after"),
        Num.roundd((col("sa") - col("sb")).cast("double") / 24.0, 6).as("shift"))
      .orderBy("event_type", "rank")
  }

  /** Page–Hinkley drift detector per event_type over the hourly count
    * series: m_t = Σ_{i≤t}(c_i − mean_i − δ), PH_t = m_t − min_{i≤t} m_i,
    * alarm when PH_t > λ (δ=0.5, λ=100) — the one-pass sequential test
    * monitoring stacks run online. Each per-row term (the only double:
    * the running mean divides once) rounds ONCE to micro-unit longs, so
    * the cumulative sum and running min are exact, order-free integer
    * folds — summation order can never flip an alarm. Reports per type:
    * alarm count, first alarm hour, and the peak PH. */
  /** Per-hour PH trace — (et, x, h, ph µ-long): the shared core of the
    * batch rollup below and the streaming twin (StatefulPh parity). */
  private[graft] def phTrace(s: SparkSession, d: String): DataFrame = {
    val wc = Window.partitionBy("et").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourlyPanel(s, d)
      .withColumn("cx", sum("c").over(wc))
      .withColumn("t6", Num.roundd(
        (col("c").cast("double") - col("cx").cast("double") / (col("x") + 1).cast("double") -
          lit(0.5)) * 1e6, 0).cast("long"))
      .withColumn("m", sum("t6").over(wc))
      .withColumn("runmin", min("m").over(wc))
      .withColumn("ph", col("m") - col("runmin"))
      .withColumn("h", gridHour("x"))
  }

  /** λ in micro-units — 100.0, shared with the streaming face. */
  private[graft] val LambdaMicro = 100L * 1000000L

  val qTsPageHinkley: Q = (s, d) => {
    val lam = LambdaMicro
    phTrace(s, d)
      .groupBy(col("et").as("event_type"))
      .agg(
        sum(when(col("ph") > lam, 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("ph") > lam, gridHour("x"))).as("first_alarm_h"),
        Num.roundd(max("ph").cast("double") / 1e6, 6).as("max_ph"))
      .orderBy("event_type")
  }

  /** Rolling-origin forecast backtest per event_type: every hour with a
    * full week of history is forecast by seasonal-naive at both the
    * weekly (c_{t−168}) and daily (c_{t−24}) season; MAE / RMSE come
    * from exact integer error sums divided once, and the weekly model's
    * skill is 1 − SAE₁₆₈/SAE₂₄ (NULL when the daily baseline is perfect
    * — the zero-variance guard). The honest evaluation every forecaster
    * must pass before serving. */
  val qTsBacktest: Q = (s, d) => {
    val wo = Window.partitionBy("et").orderBy("x")
    hourlyPanel(s, d)
      .withColumn("f168", lag("c", 168).over(wo))
      .withColumn("f24", lag("c", 24).over(wo))
      .filter(col("x") >= 168)
      .groupBy(col("et").as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("c") - col("f168"))).as("sae168"),
        sum((col("c") - col("f168")) * (col("c") - col("f168"))).as("sse168"),
        sum(abs(col("c") - col("f24"))).as("sae24"))
      .select(col("event_type"), col("n"),
        Num.roundd(col("sae168").cast("double") / col("n"), 6).as("mae_weekly"),
        Num.roundd(sqrt(col("sse168").cast("double") / col("n")), 6).as("rmse_weekly"),
        Num.roundd(col("sae24").cast("double") / col("n"), 6).as("mae_daily"),
        when(col("sae24") === 0L, lit(null)).otherwise(
          Num.roundd(lit(1.0) - col("sae168").cast("double") / col("sae24").cast("double"), 6))
          .as("skill"))
      .orderBy("event_type")
  }

  /** Hysteresis burst episodes per event_type: enter a burst when the
    * hourly count exceeds 1.5× the series mean, stay in it until the
    * count drops below the mean — the two-threshold (Schmitt-trigger)
    * episode detector alerting stacks use to suppress flapping, and the
    * practical cousin of Kleinberg's two-state burst automaton (2002).
    * Both threshold compares are exact-integer cross-multiplications
    * (2·c·N vs 3·S and c·N vs S — no float ever decides a state).
    *
    * The state machine is evaluated DECLARATIVELY, not as a fold: mark
    * rows +1 (above hi) / −1 (below lo) / 0; the state at any hour is
    * the LAST non-zero mark in its prefix (each prefix-count segment
    * holds exactly one non-zero mark — its first row — so a per-segment
    * max recovers it); burst hours then group into episodes by the
    * gaps-and-islands key x − row_number(). Identical windows on both
    * engines, all per-type over the ≤720-row panel. */
  val qTsBurst: Q = (s, d) => {
    // r18: the panel feeds the per-type totals AND the marking pass — the
    // corpus-sized hourly aggregate ran twice. Pin: ≤ types × 720 rows.
    val panel = ArtifactStore.rotate("burst_panel")(hourlyPanel(s, d))
    val tot = panel.groupBy(col("et").as("tet")).agg(sum("c").as("sc"))
    val wseq = Window.partitionBy("et").orderBy("x")
    val wcum = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = panel.join(broadcast(tot), col("et") === col("tet"))
      .withColumn("mark",
        when(col("c") * (2L * N) > lit(3L) * col("sc"), 1L)
          .when(col("c") * N < col("sc"), -1L)
          .otherwise(0L))
      .withColumn("nzgrp",
        sum(when(col("mark") =!= 0L, 1L).otherwise(0L)).over(wcum))
      .withColumn("lastnz",
        max(when(col("mark") =!= 0L, col("mark"))).over(Window.partitionBy("et", "nzgrp")))
    marked.filter(col("lastnz") === 1L)
      .withColumn("eid", col("x") - row_number().over(wseq))
      .groupBy("et", "eid")
      .agg(min("x").as("sx"), max("x").as("ex"), count(lit(1)).as("n_hours"),
        max("c").as("peak"), sum("c").as("total"))
      .select(col("et").as("event_type"), gridHour("sx").as("start_h"),
        gridHour("ex").as("end_h"), col("n_hours"), col("peak"), col("total"))
      .orderBy("event_type", "start_h")
  }

  /** CAUSAL variant of [[qTsBurst]] — the batch twin of the streaming
    * detector (streaming/StatefulBurst.scala): thresholds come from the
    * RUNNING prefix mean (all an online detector can know), enter at
    * c·2n > 3·S_prefix, hold through in-between hours, exit below the
    * running mean; only CLOSED episodes (a below-mean hour followed) are
    * emitted — exactly the append-mode stream's emission set, so parity
    * holds row-for-row on the sealed prefix. All threshold compares are
    * exact-integer cross-multiplications; same windows discipline as the
    * full-series variant. */
  private[graft] def burstCausalEpisodes(s: SparkSession, d: String): DataFrame = {
    val wseq = Window.partitionBy("et").orderBy("x")
    val wcum = wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = hourlyPanel(s, d)
      .withColumn("sc", sum("c").over(wcum))
      .withColumn("n", col("x") + 1L)
      .withColumn("mark",
        when(col("c") * 2L * col("n") > lit(3L) * col("sc"), 1L)
          .when(col("c") * col("n") < col("sc"), -1L)
          .otherwise(0L))
      .withColumn("nzgrp",
        sum(when(col("mark") =!= 0L, 1L).otherwise(0L)).over(wcum))
      .withColumn("lastnz",
        max(when(col("mark") =!= 0L, col("mark"))).over(Window.partitionBy("et", "nzgrp")))
    marked.filter(col("lastnz") === 1L)
      .withColumn("eid", col("x") - row_number().over(wseq))
      .groupBy("et", "eid")
      .agg(min("x").as("sx"), max("x").as("ex"), count(lit(1)).as("n_hours"),
        max("c").as("peak"), sum("c").as("total"))
      .filter(col("ex") < (N - 1)) // an episode still open at grid end never closes
      .select(col("et").as("event_type"), gridHour("sx").as("start_h"),
        gridHour("ex").as("end_h"), col("n_hours"), col("peak"), col("total"))
      .orderBy("event_type", "start_h")
  }

  // ---- catalog ------------------------------------------------------------

  /** Shared oracle prefix: the gapless (et, x, c) panel CTEs. */
  private val panelCte =
    "WITH g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
      "ty AS (SELECT DISTINCT event_type et FROM events), " +
      "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
      "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, coalesce(hc.c, 0) c " +
      "FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), "

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q_ts_changepoint", qTsChangepoint, Some(
      panelCte +
        "w AS (SELECT et, x, c, " +
        "CAST(sum(c) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cx, " +
        "CAST(sum(c) OVER (PARTITION BY et) AS BIGINT) tot FROM p), " +
        "gn AS (SELECT et, x + 1 k, cx, tot, " +
        "CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE) / CAST(x + 1 AS DOUBLE) + " +
        "CAST(tot - cx AS DOUBLE) * CAST(tot - cx AS DOUBLE) / CAST(720 - (x + 1) AS DOUBLE) gain " +
        "FROM w WHERE x + 1 < 720), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY et ORDER BY gain DESC, k) rn FROM gn) " +
        "SELECT et event_type, TIMESTAMP '2024-01-01' + k * INTERVAL 1 HOUR split_h, " +
        "round(CAST(cx AS DOUBLE) / k, 6) mean_before, " +
        "round(CAST(tot - cx AS DOUBLE) / (720 - k), 6) mean_after, " +
        "round(gain - CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE) / 720.0, 6) sse_drop " +
        "FROM r WHERE rn = 1 ORDER BY 1")),
    ("q_ts_level_shift", qTsLevelShift, Some(
      panelCte +
        "w AS (SELECT et, x, " +
        "CAST(sum(c) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) sb, " +
        "CAST(count(*) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT) cb, " +
        "CAST(sum(c) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS BIGINT) sa, " +
        "CAST(count(*) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS BIGINT) ca " +
        "FROM p), " +
        "f AS (SELECT et, x, sb, sa, abs(sa - sb) sh FROM w WHERE cb = 24 AND ca = 24), " +
        "pk AS (SELECT et, x, sb, sa, sh, " +
        "lag(sh) OVER (PARTITION BY et ORDER BY x) pb, lead(sh) OVER (PARTITION BY et ORDER BY x) pf FROM f), " +
        "r AS (SELECT et, x, sb, sa, sh, row_number() OVER (PARTITION BY et ORDER BY sh DESC, x) rn " +
        "FROM pk WHERE sh >= coalesce(pb, -1) AND sh > coalesce(pf, -1)) " +
        "SELECT et event_type, rn \"rank\", TIMESTAMP '2024-01-01' + x * INTERVAL 1 HOUR h, " +
        "round(CAST(sb AS DOUBLE) / 24.0, 6) mean_before, " +
        "round(CAST(sa AS DOUBLE) / 24.0, 6) mean_after, " +
        "round(CAST(sa - sb AS DOUBLE) / 24.0, 6) shift " +
        "FROM r WHERE rn <= 3 ORDER BY event_type, \"rank\"")),
    ("q_ts_page_hinkley", qTsPageHinkley, Some(
      panelCte +
        "w AS (SELECT et, x, c, " +
        "CAST(sum(c) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cx " +
        "FROM p), " +
        "t AS (SELECT et, x, CAST(round((CAST(c AS DOUBLE) - CAST(cx AS DOUBLE) / CAST(x + 1 AS DOUBLE) - 0.5) * 1000000, 0) AS BIGINT) t6 FROM w), " +
        "m AS (SELECT et, x, CAST(sum(t6) OVER wc AS BIGINT) m FROM t " +
        "WINDOW wc AS (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "ph AS (SELECT et, x, m - CAST(min(m) OVER wc AS BIGINT) ph FROM m " +
        "WINDOW wc AS (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT et event_type, " +
        "CAST(sum(CASE WHEN ph > 100000000 THEN 1 ELSE 0 END) AS BIGINT) n_alarms, " +
        "min(CASE WHEN ph > 100000000 THEN TIMESTAMP '2024-01-01' + x * INTERVAL 1 HOUR END) first_alarm_h, " +
        "round(CAST(max(ph) AS DOUBLE) / 1000000, 6) max_ph " +
        "FROM ph GROUP BY 1 ORDER BY 1")),
    ("q_ts_backtest", qTsBacktest, Some(
      panelCte +
        "w AS (SELECT et, x, c, " +
        "lag(c, 168) OVER (PARTITION BY et ORDER BY x) f168, " +
        "lag(c, 24) OVER (PARTITION BY et ORDER BY x) f24 FROM p), " +
        "m AS (SELECT et, CAST(count(*) AS BIGINT) n, " +
        "sum(abs(c - f168)) sae168, sum((c - f168) * (c - f168)) sse168, " +
        "sum(abs(c - f24)) sae24 FROM w WHERE x >= 168 GROUP BY 1) " +
        "SELECT et event_type, n, " +
        "round(CAST(sae168 AS DOUBLE) / n, 6) mae_weekly, " +
        "round(sqrt(CAST(sse168 AS DOUBLE) / n), 6) rmse_weekly, " +
        "round(CAST(sae24 AS DOUBLE) / n, 6) mae_daily, " +
        "CASE WHEN sae24 = 0 THEN NULL ELSE round(1.0 - CAST(sae168 AS DOUBLE) / CAST(sae24 AS DOUBLE), 6) END skill " +
        "FROM m ORDER BY 1")),
    ("q_ts_burst", qTsBurst, Some(
      panelCte +
        "t AS (SELECT et, CAST(sum(c) AS BIGINT) sc FROM p GROUP BY 1), " +
        "mk AS (SELECT p.et, p.x, p.c, " +
        "CAST(CASE WHEN p.c * 1440 > 3 * t.sc THEN 1 WHEN p.c * 720 < t.sc THEN -1 ELSE 0 END AS BIGINT) mark " +
        "FROM p JOIN t ON t.et = p.et), " +
        "nz AS (SELECT *, CAST(sum(CASE WHEN mark <> 0 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) nzgrp FROM mk), " +
        "st AS (SELECT *, max(CASE WHEN mark <> 0 THEN mark END) OVER (PARTITION BY et, nzgrp) lastnz FROM nz), " +
        "b AS (SELECT et, x, c, x - row_number() OVER (PARTITION BY et ORDER BY x) eid FROM st WHERE lastnz = 1) " +
        "SELECT et event_type, TIMESTAMP '2024-01-01' + min(x) * INTERVAL 1 HOUR start_h, " +
        "TIMESTAMP '2024-01-01' + max(x) * INTERVAL 1 HOUR end_h, CAST(count(*) AS BIGINT) n_hours, " +
        "CAST(max(c) AS BIGINT) peak, CAST(sum(c) AS BIGINT) total " +
        "FROM b GROUP BY et, eid ORDER BY 1, 2")))
}
