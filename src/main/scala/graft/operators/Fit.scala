package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trend-fitting and sequential-fold tier over the event stream — the
  * operators that turn an hourly metric panel into a model: OLS line
  * fit (slope / intercept / r²), the Theil–Sen robust slope (median of
  * pairwise slopes — outlier-immune where OLS is not), drawdown
  * analysis (running-peak shortfall, the capacity/finance staple), and
  * the capped cumulative fold (a clamped running balance — the batch
  * twin of the streaming token bucket, and the canonical example of a
  * sequential recurrence no window frame can express).
  *
  * Determinism (SURVEY §2.0): OLS moments are EXACT integer sums over
  * the gapless hourly COUNT grid (the q_ts_corr_pair device) — the only
  * doubles are the final one-shot formulas, identical expressions on
  * both engines. Theil–Sen slopes are single-division rationals of
  * exact ints; the exact interpolated median sees the same double
  * multiset on both engines. Drawdown folds exact micro-unit longs
  * (per-hour sums rounded once at 6 dp, then ×1e6 → BIGINT), so the
  * running sum/max is order-free. The capped fold replays the identical
  * IEEE op sequence (add, clamp-low, clamp-high) in the identical
  * (ts, event_id) order on both engines.
  *
  * Scale notes: regr/theil_sen/drawdown all ride the POST-aggregate
  * hourly panel (≤ types × hours rows regardless of event volume); the
  * Theil–Sen pair fan-out is (grid)²/2 per type — bounded by the panel,
  * never the raw scan, and embarrassingly parallel after the self-join.
  * The capped fold shuffles once on user_id and folds each user's
  * (bounded) history in memory — the same per-key contract the
  * sessionizer and the streaming rate limiter already rely on.
  */
object Fit {
  /** The canonical gapless hour grid of the dataset's time range (the
    * q_ts_gapfill bounds). Absent hours are real zeros for COUNT series —
    * correlating only observed hours would bias r toward dense periods. */
  private[operators] def hourGrid(s: SparkSession): DataFrame = s.sql(
    "SELECT explode(sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00', TIMESTAMP_NTZ '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS h")

  /** DuckDB twin of `hourGrid`, for oracles. */
  private[operators] val HourGridSql =
    "SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h"

  /** (et, x, c) panel: per-type hourly event counts on the gapless grid
    * (absent hours are real zeros), x = hours since 2024-01-01. Shared
    * by the fits here, Change's detectors and Stats' tests, so all of
    * them see the identical series. (r18: a rotate pin under Stats was
    * measured and REJECTED — cross_corr 0.28 → 0.46 s while ar2_fit −0.1
    * and ljung_box neutral, net negative: the lag-join branches overlap
    * inside one job at sf0.1.) */
  private[operators] def hourlyPanel(s: SparkSession, d: String): DataFrame = {
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

  /** OLS line fit per event_type over the hourly count series: slope,
    * intercept, r² from exact integer moments (one hash aggregate over
    * the panel). The closed-form normal equations divide once at the
    * end — no iterative fitting, no per-row doubles. */
  val qTsRegrFit: Q = (s, d) =>
    hourlyPanel(s, d)
      .groupBy("et")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("c").as("sy"),
        sum(col("x") * col("c")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("c") * col("c")).as("syy"))
      .select(col("et").as("event_type"), col("n"),
        Num.roundd((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6).as("slope"),
        Num.roundd((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6).as("intercept"),
        // ADVICE r11: a CONSTANT series has n·syy − sy² = 0 and the r²
        // quotient is 0/0 — define it as NULL explicitly on both engines
        // rather than lean on unspecified divide-by-zero semantics
        when((col("n") * col("syy") - col("sy") * col("sy")) === 0L, lit(null))
          .otherwise(Num.roundd(
            pow((col("n") * col("sxy") - col("sx") * col("sy")).cast("double"), 2) /
              ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6))
          .as("r2"))
      .orderBy("event_type")

  /** Theil–Sen robust slope per event_type: the exact median of all
    * pairwise slopes (c_j - c_i)/(x_j - x_i) over the hourly panel —
    * a 29%-breakdown estimator where one spiky hour drags OLS. The
    * pair fan-out is a type-local self-join of the POST-aggregate grid
    * (≤ hours²/2 pairs per type), then one exact percentile. */
  val qTsTheilSen: Q = (s, d) => {
    val p = hourlyPanel(s, d)
    val a = p.select(col("et"), col("x").as("xa"), col("c").as("ca"))
    val b = p.select(col("et"), col("x").as("xb"), col("c").as("cb"))
    a.join(b, Seq("et"))
      .filter(col("xa") < col("xb"))
      .select(col("et"),
        ((col("cb") - col("ca")).cast("double") /
          (col("xb") - col("xa")).cast("double")).as("sl"))
      .groupBy("et")
      .agg(count(lit(1)).as("n_pairs"),
        Num.roundd(expr("percentile(sl, 0.5d)"), 6).as("slope"))
      .select(col("et").as("event_type"), col("n_pairs"), col("slope"))
      .orderBy("event_type")
  }

  /** Max drawdown per event_type over the cumulative hourly value
    * series: running peak minus running sum, reported with the overall
    * peak and the (earliest) trough hour. Per-hour sums round once at
    * 6 dp then live as exact micro-unit longs, so the cumulative fold
    * and running max are summation-order-free; only the final /1e6
    * display division is floating-point. */
  val qTsDrawdown: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("h"))
      .agg(Num.roundd(sum("value") * 1e6, 0).cast("long").as("v"))
    val wc = Window.partitionBy("et").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wp = Window.partitionBy("et")
    hourly
      .withColumn("cum", sum("v").over(wc))
      .withColumn("runmax", max("cum").over(wc))
      .withColumn("dd", col("runmax") - col("cum"))
      .withColumn("ddmax", max("dd").over(wp))
      .groupBy(col("et").as("event_type"))
      .agg(
        Num.roundd(max("cum").cast("double") / 1e6, 6).as("peak"),
        Num.roundd(max("dd").cast("double") / 1e6, 6).as("max_dd"),
        min(when(col("dd") === col("ddmax"), col("h"))).as("trough_h"))
      .orderBy("event_type")
  }

  /** Seasonality strength per event_type over the gapless hourly count
    * grid: 1 − Var(residual)/Var(series), where the seasonal component
    * is each hour-of-day's 30-day mean. PURE INTEGER until one final
    * division: residuals scale by 30 (r30 = 30·c − s_hod, exact), so
    * strength = 1 − (n·Σr30² − (Σr30)²) / (900·(n·Σc² − (Σc)²)) divides
    * exact longs once. Also reports the peak hour-of-day (tie → earliest).
    * Strength near 1 = the daily cycle explains the series; near 0 =
    * no usable seasonality for the seasonal-naive forecaster. */
  val qTsSeasonStrength: Q = (s, d) => {
    val panel = hourlyPanel(s, d)
      .withColumn("hod", col("x") % 24)
      .withColumn("sh", sum("c").over(Window.partitionBy("et", "hod")))
      .withColumn("r30", lit(30L) * col("c") - col("sh"))
    val peak = panel
      .groupBy("et", "hod").agg(max("sh").as("shod"))
      .withColumn("mx", max("shod").over(Window.partitionBy("et")))
      .filter(col("shod") === col("mx"))
      .groupBy("et").agg(min("hod").as("peak_hod"))
    panel
      .groupBy("et")
      .agg(count(lit(1)).as("n"), sum("c").as("sc"), sum(col("c") * col("c")).as("scc"),
        sum("r30").as("sr"), sum(col("r30") * col("r30")).as("srr"))
      .join(peak, "et")
      .select(col("et").as("event_type"), col("peak_hod"),
        Num.roundd(lit(1.0) -
          (col("n") * col("srr") - col("sr") * col("sr")).cast("double") /
            (lit(900.0) * (col("n") * col("scc") - col("sc") * col("sc")).cast("double")), 6)
          .as("strength"))
      .orderBy("event_type")
  }

  /** Wilson 95% score interval for the daily error rate — the CI that
    * stays inside [0,1] and behaves at small n where the normal
    * approximation fails, i.e. the interval an SLO dashboard should
    * draw. Counts are exact longs; both engines evaluate the IDENTICAL
    * double expression tree (same literals, same association), so the
    * bounds agree bit-for-bit before the display rounding. */
  val qTsWilsonCi: Q = (s, d) => {
    val z = lit(1.96)
    val z2 = z * z
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("d"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("x"),
        count(lit(1)).as("n"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("p", col("x").cast("double") / col("nd"))
      .withColumn("den", lit(1.0) + z2 / col("nd"))
      .withColumn("center", col("p") + z2 / (lit(2.0) * col("nd")))
      .withColumn("rad", z * sqrt(
        col("p") * (lit(1.0) - col("p")) / col("nd") +
          z2 / (lit(4.0) * col("nd") * col("nd"))))
      .select(col("d"), col("n"), col("x"), Num.roundd(col("p"), 6).as("p"),
        Num.roundd((col("center") - col("rad")) / col("den"), 6).as("lo"),
        Num.roundd((col("center") + col("rad")) / col("den"), 6).as("hi"))
      .orderBy("d")
  }

  /** Capped cumulative balance per user — bal_i = clamp(bal_{i-1} +
    * (value_i - 40), 0, 200) from a starting 100 — the inventory /
    * leaky-bucket recurrence that NO window frame can express (each
    * step depends on the clamped previous step). One shuffle on
    * user_id, then an in-memory fold over each user's (ts, event_id)-
    * ordered history — the batch twin of StatefulRateLimit's buffered
    * fold, with per-user state bounded by user activity, not corpus
    * size. The oracle replays the identical recurrence as a per-rank
    * recursive CTE. */
  val qTsCappedCumsum: Q = (s, d) => {
    import s.implicits._
    def r6(v: Double): Double = {
      val m = math.floor(math.abs(v) * 1e6 + 0.5) / 1e6
      if (v < 0) -m else m
    }
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"), col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (u: Long, it: Iterator[(Long, Long, Long, Double)]) =>
        val evs = it.toArray.sortBy(e => (e._3, e._2))
        var bal = 100.0
        evs.iterator.map { e =>
          // same IEEE sequence as the oracle: delta first, one add, two clamps
          bal = math.min(200.0, math.max(0.0, bal + (r6(e._4) - 40.0)))
          (u, e._2, r6(bal))
        }
      }
      .toDF("user_id", "event_id", "bal")
      .orderBy("user_id", "event_id")
  }

  /** Moving-average crossover signals per event_type (7-day fast vs
    * 14-day slow over the daily value series): 'golden' when fast
    * crosses above slow, 'death' when below — the trend-change detector
    * every monitoring/trading stack ships. The comparison is PURE
    * INTEGER: daily sums live as exact micro-unit longs, and
    * fast > slow ⟺ sum_f·cnt_s > sum_s·cnt_f — no float ever decides a
    * signal, so both engines flip on exactly the same day. Windows ride
    * the ≤types×days post-aggregate panel. */
  val qTsMaCross: Q = (s, d) => {
    val wf = Window.partitionBy("et").orderBy("dd").rowsBetween(-6, Window.currentRow)
    val ws = Window.partitionBy("et").orderBy("dd").rowsBetween(-13, Window.currentRow)
    val wl = Window.partitionBy("et").orderBy("dd")
    Tables.events(s, d)
      .groupBy(col("event_type").as("et"), date_trunc("day", col("ts")).cast("date").as("dd"))
      .agg(Num.roundd(sum("value") * 1e6, 0).cast("long").as("v"))
      .withColumn("sf", sum("v").over(wf)).withColumn("cf", count(lit(1)).over(wf))
      .withColumn("ss", sum("v").over(ws)).withColumn("cs", count(lit(1)).over(ws))
      .withColumn("cmp",
        when(col("sf") * col("cs") > col("ss") * col("cf"), 1L)
          .when(col("sf") * col("cs") < col("ss") * col("cf"), -1L)
          .otherwise(0L))
      .withColumn("prev", lag("cmp", 1).over(wl))
      .filter(col("prev").isNotNull && col("cmp") =!= col("prev") && col("cmp") =!= 0L)
      .select(col("et").as("event_type"), col("dd").as("d"),
        Num.roundd(col("sf").cast("double") / col("cf") / 1e6, 6).as("fast"),
        Num.roundd(col("ss").cast("double") / col("cs") / 1e6, 6).as("slow"),
        when(col("cmp") === 1L, "golden").otherwise("death").as("signal"))
      .orderBy("event_type", "d")
  }

  /** Steady-state local-level Kalman filter per event_type over the
    * gapless hourly count series (process noise Q=1, observation noise
    * R=4): the optimal online smoother for a random-walk level observed
    * with noise — what a monitoring stack uses when EWMA's fixed alpha
    * is too blunt (the Kalman gain ADAPTS: high while uncertain, then
    * converges to the Riccati fixed point). Public formulation: Kalman
    * (1960); the scalar recurrence is
    *   Pp = P + Q;  K = Pp/(Pp+R);  x += K(z - x);  P = (1-K)Pp.
    *
    * Determinism: x, K and P are rounded at 6 dp EVERY step on both
    * engines, so each engine folds the identical rounded sequence — the
    * q_ts_capped_cumsum replay discipline (the oracle is an independent
    * recursive-CTE formulation of the same fold). Scale: the fold runs
    * per event_type on the POST-aggregate hourly panel (≤ types × hours
    * rows regardless of event volume) — the same bounded-series-per-key
    * contract as the sessionizer; the raw scan is one hash aggregate. */
  val qTsKalman: Q = (s, d) => {
    import s.implicits._
    def r6(v: Double): Double = {
      val m = math.floor(math.abs(v) * 1e6 + 0.5) / 1e6
      if (v < 0) -m else m
    }
    hourlyPanel(s, d)
      .select(col("et"), col("x"), col("c"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et: String, it: Iterator[(String, Long, Long)]) =>
        val zs = it.toArray.sortBy(_._2)
        var x = 0.0; var p = 0.0; var first = true
        zs.iterator.map { case (_, h, z) =>
          var k = 0.0
          if (first) { x = z.toDouble; p = 1.0; first = false }
          else {
            val pp = r6(p + 1.0)
            k = r6(pp / (pp + 4.0))
            x = r6(x + k * (z.toDouble - x))
            p = r6((1.0 - k) * pp)
          }
          (et, h, r6(x), k)
        }
      }
      .toDF("event_type", "x", "level", "gain")
      .filter(col("x") >= 690L) // report the settled tail (last 30 hours)
      .orderBy("event_type", "x")
  }

  /** Classical additive seasonal decomposition, period 24 (the textbook
    * moving-average method, e.g. Hyndman & Athanasopoulos FPP ch. 3):
    * trend = centered 2×24-MA, seasonal index per hour-of-day = mean of
    * the detrended series at that hod, normalized to sum 0 across the
    * day. EVERYTHING is exact integer arithmetic until one final
    * division: the 2×24-MA numerator is the sum of two 24-hour window
    * sums (trend = tnum/48), the detrended numerator is 48·c − tnum,
    * and the normalized index is (24·Σdnum_j − ΣΣdnum) / (1152·n_j) —
    * so both engines agree bit-exactly before the 6 dp round. Boundary
    * hours whose MA window is incomplete are excluded by window-count,
    * leaving each hod the same n_j complete days. All windows are
    * panel-keyed over ≤720 rows/type — post-aggregate, never event
    * volume. */
  val qTsClassicalDecomp: Q = (s, d) => {
    val w = Window.partitionBy("et").orderBy("x")
    val p = hourlyPanel(s, d)
      .withColumn("s1", sum("c").over(w.rowsBetween(-12, 11)))
      .withColumn("s2", sum("c").over(w.rowsBetween(-11, 12)))
      .withColumn("k1", count(lit(1)).over(w.rowsBetween(-12, 11)))
      .withColumn("k2", count(lit(1)).over(w.rowsBetween(-11, 12)))
      .filter(col("k1") === 24L && col("k2") === 24L)
      .select(col("et"), (col("x") % 24).as("hod"),
        (lit(48L) * col("c") - col("s1") - col("s2")).as("dnum"))
    val sj = p.groupBy("et", "hod").agg(sum("dnum").as("snum"), count(lit(1)).as("nj"))
    val st = sj.groupBy(col("et").as("et2")).agg(sum("snum").as("stot"))
    sj.join(broadcast(st), col("et") === col("et2"))
      .select(col("et").as("event_type"), col("hod"), col("nj").as("n_days"),
        Num.roundd((lit(24L) * col("snum") - col("stot")).cast("double") /
          (lit(1152L) * col("nj")).cast("double"), 6).as("seasonal"))
      .orderBy("event_type", "hod")
  }

  /** Theta-method forecast per event_type (Assimakopoulos &
    * Nikolopoulos 2000; implemented in the Hyndman & Billah 2003
    * equivalent form: SES on the series plus half the LS slope as
    * drift — the M3-competition benchmark forecaster):
    *   ŷ_{n+h} = SES_n + (b/2)·(h − 1 + 1/α − (1−α)^n/α),  α = 0.2.
    * The slope comes from the same exact-integer OLS moments as
    * q_ts_regr_fit (rounded at 9 dp); the SES level is a declarative
    * `aggregate` HOF fold over the per-type hourly array (collect_list
    * of the ≤720-row panel — the q_ts_holt device, bounded by the
    * calendar), replayed step-for-step by the oracle's recursive CTE
    * with the identical 0.2·x + 0.8·acc expression tree, so both
    * engines run the same IEEE sequence with no per-step rounding
    * needed. The (1−α)^n tail is ~1e−70 here — kept for fidelity; pow
    * ulp differences sit 15 orders below the 6 dp round. */
  val qTsTheta: Q = (s, d) => {
    val g = hourlyPanel(s, d).groupBy("et").agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("c").as("sy"),
      sum(col("x") * col("c")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sort_array(collect_list(struct(col("x"), col("c")))).as("pts"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    def fc(h: Int) = Num.roundd(col("ses") + col("b") / 2.0 *
      (lit((h - 1).toDouble) + lit(5.0) - pow(lit(0.8), col("n")) * lit(5.0)), 6)
    g.withColumn("b", when(den =!= 0L, Num.roundd(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") / den.cast("double"), 9)))
      .withColumn("vs", expr("transform(pts, q -> cast(q.c as double))"))
      .withColumn("ses", expr(
        "aggregate(slice(vs, 2, size(vs) - 1), element_at(vs, 1), (acc, x) -> 0.2d * x + 0.8d * acc)"))
      .select(col("et").as("event_type"), col("b").as("slope"),
        Num.roundd(col("ses"), 6).as("ses_level"),
        fc(1).as("fc1"), fc(6).as("fc6"), fc(24).as("fc24"))
      .orderBy("event_type")
  }

  // ---- catalog ------------------------------------------------------------

  val all: Seq[Entry] = Seq(
    Entry("q_ts_regr_fit", qTsRegrFit, Some(
      "WITH g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, coalesce(hc.c, 0) c " +
        "FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "m AS (SELECT et, CAST(count(*) AS BIGINT) n, sum(x) sx, sum(c) sy, sum(x * c) sxy, " +
        "sum(x * x) sxx, sum(c * c) syy FROM p GROUP BY 1) " +
        "SELECT et event_type, n, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) slope, " +
        "round(CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) intercept, " +
        "CASE WHEN n * syy - sy * sy = 0 THEN NULL ELSE " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) END r2 " +
        "FROM m ORDER BY 1")),
    Entry("q_ts_theil_sen", qTsTheilSen, Some(
      "WITH g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, coalesce(hc.c, 0) c " +
        "FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "pr AS (SELECT a.et, CAST(b.c - a.c AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) sl " +
        "FROM p a JOIN p b ON b.et = a.et AND a.x < b.x) " +
        "SELECT et event_type, CAST(count(*) AS BIGINT) n_pairs, " +
        "round(quantile_cont(sl, 0.5), 6) slope FROM pr GROUP BY 1 ORDER BY 1")),
    Entry("q_ts_drawdown", qTsDrawdown, Some(
      "WITH h AS (SELECT event_type et, date_trunc('hour', ts) h, " +
        "CAST(round(sum(value) * 1000000, 0) AS BIGINT) v FROM events GROUP BY 1, 2), " +
        "c AS (SELECT et, h, CAST(sum(v) OVER w AS BIGINT) cum FROM h " +
        "WINDOW w AS (PARTITION BY et ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "dd AS (SELECT et, h, cum, CAST(max(cum) OVER w AS BIGINT) - cum dd FROM c " +
        "WINDOW w AS (PARTITION BY et ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "x AS (SELECT et, h, cum, dd, CAST(max(dd) OVER (PARTITION BY et) AS BIGINT) ddmax FROM dd) " +
        "SELECT et event_type, round(CAST(max(cum) AS DOUBLE) / 1000000, 6) peak, " +
        "round(CAST(max(dd) AS DOUBLE) / 1000000, 6) max_dd, " +
        "min(CASE WHEN dd = ddmax THEN h END) trough_h " +
        "FROM x GROUP BY 1 ORDER BY 1")),
    Entry("q_ts_season_strength", qTsSeasonStrength, Some(
      "WITH g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, coalesce(hc.c, 0) c " +
        "FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "q AS (SELECT et, x % 24 hod, c FROM p), " +
        "sh AS (SELECT et, hod, CAST(sum(c) AS BIGINT) sh FROM q GROUP BY 1, 2), " +
        "r AS (SELECT q.et, 30 * q.c - sh.sh r30, q.c FROM q JOIN sh ON sh.et = q.et AND sh.hod = q.hod), " +
        "m AS (SELECT et, CAST(count(*) AS BIGINT) n, sum(c) sc, sum(c * c) scc, " +
        "sum(r30) sr, sum(r30 * r30) srr FROM r GROUP BY 1), " +
        "pk AS (SELECT et, CAST(min(hod) AS BIGINT) peak_hod FROM sh a " +
        "WHERE sh = (SELECT max(sh) FROM sh b WHERE b.et = a.et) GROUP BY 1) " +
        "SELECT m.et event_type, peak_hod, " +
        "round(1.0 - CAST(n * srr - sr * sr AS DOUBLE) / (900.0 * CAST(n * scc - sc * sc AS DOUBLE)), 6) strength " +
        "FROM m JOIN pk ON pk.et = m.et ORDER BY 1")),
    Entry("q_ts_wilson_ci", qTsWilsonCi, Some(
      "WITH a AS (SELECT CAST(date_trunc('day', ts) AS DATE) d, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) x, " +
        "CAST(count(*) AS BIGINT) n FROM events GROUP BY 1), " +
        "b AS (SELECT d, n, x, CAST(n AS DOUBLE) nd, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) p FROM a), " +
        "cx AS (SELECT *, 1.0 + (1.96 * 1.96) / nd den, p + (1.96 * 1.96) / (2.0 * nd) center, " +
        "1.96 * sqrt(p * (1.0 - p) / nd + (1.96 * 1.96) / (4.0 * nd * nd)) rad FROM b) " +
        "SELECT d, n, x, round(p, 6) p, round((center - rad) / den, 6) lo, " +
        "round((center + rad) / den, 6) hi FROM cx ORDER BY d")),
    Entry("q_ts_ma_cross", qTsMaCross, Some(
      "WITH dp AS (SELECT event_type et, CAST(date_trunc('day', ts) AS DATE) dd, " +
        "CAST(round(sum(value) * 1000000, 0) AS BIGINT) v FROM events GROUP BY 1, 2), " +
        "m AS (SELECT et, dd, " +
        "CAST(sum(v) OVER wf AS BIGINT) sf, CAST(count(*) OVER wf AS BIGINT) cf, " +
        "CAST(sum(v) OVER ws AS BIGINT) ss, CAST(count(*) OVER ws AS BIGINT) cs FROM dp " +
        "WINDOW wf AS (PARTITION BY et ORDER BY dd ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), " +
        "ws AS (PARTITION BY et ORDER BY dd ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)), " +
        "c AS (SELECT et, dd, sf, cf, ss, cs, " +
        "CAST(CASE WHEN sf * cs > ss * cf THEN 1 WHEN sf * cs < ss * cf THEN -1 ELSE 0 END AS BIGINT) cmp FROM m), " +
        "x AS (SELECT *, lag(cmp) OVER (PARTITION BY et ORDER BY dd) prev FROM c) " +
        "SELECT et event_type, dd d, " +
        "round(CAST(sf AS DOUBLE) / cf / 1000000, 6) fast, " +
        "round(CAST(ss AS DOUBLE) / cs / 1000000, 6) slow, " +
        "CASE WHEN cmp = 1 THEN 'golden' ELSE 'death' END signal " +
        "FROM x WHERE prev IS NOT NULL AND cmp <> prev AND cmp <> 0 " +
        "ORDER BY event_type, d")),
    Entry("q_ts_capped_cumsum", qTsCappedCumsum, Some(
      "WITH RECURSIVE e AS (SELECT user_id, event_id, round(value, 6) - 40.0 delta, " +
        "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) rn FROM events), " +
        "s AS (SELECT user_id, event_id, rn, least(greatest(100.0 + delta, 0.0), 200.0) bal FROM e WHERE rn = 1 " +
        "UNION ALL SELECT e.user_id, e.event_id, e.rn, least(greatest(s.bal + e.delta, 0.0), 200.0) " +
        "FROM s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1) " +
        "SELECT user_id, event_id, round(bal, 6) bal FROM s ORDER BY user_id, event_id")),
    Entry("q_ts_kalman", qTsKalman, Some(
      "WITH RECURSIVE g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, " +
        "CAST(coalesce(hc.c, 0) AS DOUBLE) z FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "s AS (SELECT et, x, z AS lvl, CAST(1.0 AS DOUBLE) AS pv, CAST(0.0 AS DOUBLE) AS k FROM p WHERE x = 0 " +
        "UNION ALL SELECT p.et, p.x, " +
        "round(s.lvl + round(round(s.pv + 1.0, 6) / (round(s.pv + 1.0, 6) + 4.0), 6) * (p.z - s.lvl), 6), " +
        "round((1.0 - round(round(s.pv + 1.0, 6) / (round(s.pv + 1.0, 6) + 4.0), 6)) * round(s.pv + 1.0, 6), 6), " +
        "round(round(s.pv + 1.0, 6) / (round(s.pv + 1.0, 6) + 4.0), 6) " +
        "FROM s JOIN p ON p.et = s.et AND p.x = s.x + 1) " +
        "SELECT et event_type, x, round(lvl, 6) AS \"level\", k gain FROM s WHERE x >= 690 ORDER BY 1, 2")),
    Entry("q_ts_classical_decomp", qTsClassicalDecomp, Some(
      "WITH g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, " +
        "CAST(coalesce(hc.c, 0) AS BIGINT) c FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "w AS (SELECT et, x, c, " +
        "sum(c) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) s1, " +
        "sum(c) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) s2, " +
        "count(*) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) k1, " +
        "count(*) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) k2 FROM p), " +
        "dn AS (SELECT et, x % 24 hod, 48 * c - s1 - s2 dnum FROM w WHERE k1 = 24 AND k2 = 24), " +
        "sj AS (SELECT et, hod, CAST(sum(dnum) AS BIGINT) snum, CAST(count(*) AS BIGINT) nj FROM dn GROUP BY 1, 2), " +
        "st AS (SELECT et, CAST(sum(snum) AS BIGINT) stot FROM sj GROUP BY 1) " +
        "SELECT sj.et event_type, sj.hod, sj.nj n_days, " +
        "round(CAST(24 * sj.snum - st.stot AS DOUBLE) / CAST(1152 * sj.nj AS DOUBLE), 6) seasonal " +
        "FROM sj JOIN st ON st.et = sj.et ORDER BY 1, 2")),
    Entry("q_ts_theta", qTsTheta, Some(
      "WITH RECURSIVE g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, " +
        "CAST(coalesce(hc.c, 0) AS BIGINT) c FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "m AS (SELECT et, CAST(count(*) AS BIGINT) n, sum(x) sx, sum(c) sy, sum(x * c) sxy, sum(x * x) sxx FROM p GROUP BY 1), " +
        "ses AS (SELECT et, x, CAST(c AS DOUBLE) l FROM p WHERE x = 0 " +
        "UNION ALL SELECT p.et, p.x, 0.2::DOUBLE * p.c + 0.8::DOUBLE * s.l " +
        "FROM ses s JOIN p ON p.et = s.et AND p.x = s.x + 1), " +
        "f AS (SELECT et, l FROM ses WHERE x = (SELECT max(x) FROM p)), " +
        "th AS (SELECT m.et, m.n, f.l, CASE WHEN m.n * m.sxx - m.sx * m.sx <> 0 THEN " +
        "round(CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE) / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE), 9) END b " +
        "FROM m JOIN f ON f.et = m.et) " +
        "SELECT et event_type, b slope, round(l, 6) ses_level, " +
        "round(l + b / 2 * (0.0::DOUBLE + 5.0::DOUBLE - pow(0.8::DOUBLE, n) * 5.0::DOUBLE), 6) fc1, " +
        "round(l + b / 2 * (5.0::DOUBLE + 5.0::DOUBLE - pow(0.8::DOUBLE, n) * 5.0::DOUBLE), 6) fc6, " +
        "round(l + b / 2 * (23.0::DOUBLE + 5.0::DOUBLE - pow(0.8::DOUBLE, n) * 5.0::DOUBLE), 6) fc24 " +
        "FROM th ORDER BY 1")))
}
