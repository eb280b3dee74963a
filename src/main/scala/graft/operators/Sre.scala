package graft.operators

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SRE / service-health tier: the operator family an on-call dashboard is
  * built from — Apdex scoring, Bollinger traffic bands, seasonal-baseline
  * spike detection, winsorized robust means, and the Benford first-digit
  * audit that flags fabricated or unit-mangled metric feeds.
  *
  * Determinism (SURVEY §2.0): `value` is exact 2-decimal, so
  * `cents = round(value*100)` is an exact integer and every rolling /
  * grouped moment here accumulates in long space; doubles appear only in
  * the final divide/sqrt on identical inputs in both engines, rounded
  * through [[Num.roundd]]. Benford expectations are shared 4-dp literals
  * rather than live log10 calls, so libm ulp differences cannot leak in.
  *
  * Scale notes per member; the common shape is hash-agg to a bounded
  * (type × hour) panel first, then windows over that panel — the raw scan
  * is never window-sorted, so the expensive part stays one map-side
  * combining aggregate at any corpus size.
  */
object Sre {
  type Q = (SparkSession, String) => DataFrame

  /** Exact integer cents for the 2-decimal metric value. */
  private val cents = expr("cast(round(value * 100.0) as bigint)")

  private def hourGrid(s: SparkSession): DataFrame = s.sql(
    "SELECT explode(sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00', TIMESTAMP_NTZ '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS h")

  private val GRID =
    "SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h"

  // ---- Apdex --------------------------------------------------------------

  /** Apdex score per (day, event_type): treating `value` as a latency,
    * satisfied ≤ T, tolerating ≤ 4T (T = 50), apdex = (sat + tol/2) / n —
    * the classic user-satisfaction rollup an SLA report leads with.
    *
    * One hash aggregate over the scan (conditional counts are map-side
    * partial), integer counts until the single final divide. At 100 TB
    * this is the same plan with the day column as the partition key, so
    * the aggregate reads only the report's date range. */
  val qTsApdex: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("dday"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= 50.0, 1L).otherwise(0L)).as("n_sat"),
        sum(when(col("value") > 50.0 && col("value") <= 200.0, 1L).otherwise(0L)).as("n_tol"))
      .withColumn("apdex",
        Num.roundd((col("n_sat").cast("double") + col("n_tol").cast("double") * 0.5) /
          col("n").cast("double"), 4))
      .orderBy("dday", "event_type")

  /** Bollinger bands over the hourly request-rate series, per event_type:
    * 24-hour rolling mean ± 2σ on the gap-filled hourly counts, with the
    * breach direction (+1 above, −1 below) that triggers a traffic alert.
    *
    * The series is COUNTS, so all rolling moments (Σx, Σx²) are exact
    * longs over the 24-row frame — σ = √((nΣx² − (Σx)²)/n²) touches
    * doubles only at the final sqrt on identical integers; the breach
    * compare uses the pre-rounded band edges so the flag is
    * order-insensitive. One hash agg compresses the scan to the
    * (type × 720 h) panel; the window runs inside the type shuffle over
    * ≤720 rows per key — at 100 TB the panel is still (types × hours),
    * independent of event volume. */
  val qTsBollinger: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(col("event_type").as("at"), date_trunc("hour", col("ts")).as("ah"))
      .agg(count(lit(1)).as("ax"))
    val types = Tables.events(s, d).select("event_type").distinct()
    val g = types.crossJoin(hourGrid(s))
      .join(agg, col("event_type") === col("at") && col("h") === col("ah"), "left")
      .select(col("event_type"), col("h"), coalesce(col("ax"), lit(0L)).as("x"))
    val f = Window.partitionBy("event_type").orderBy("h").rowsBetween(-23, Window.currentRow)
    g.select(col("event_type"), col("h"), col("x"),
        count(lit(1)).over(f).as("np"),
        sum("x").over(f).as("s"),
        sum(col("x") * col("x")).over(f).as("ssq"))
      .filter(col("np") === 24)
      .withColumn("ma", Num.roundd(col("s").cast("double") / 24.0, 4))
      .withColumn("sd", Num.roundd(
        sqrt((lit(24L) * col("ssq") - col("s") * col("s")).cast("double") / 576.0), 4))
      .withColumn("lo", Num.roundd(col("ma") - lit(2.0) * col("sd"), 4))
      .withColumn("hi", Num.roundd(col("ma") + lit(2.0) * col("sd"), 4))
      .withColumn("breach",
        when(col("x").cast("double") > col("hi"), 1L)
          .when(col("x").cast("double") < col("lo"), -1L).otherwise(0L))
      .select("event_type", "h", "x", "ma", "sd", "lo", "hi", "breach")
      .orderBy("event_type", "h")
  }

  // ---- seasonal-baseline spike detection ----------------------------------

  /** Week-over-week seasonal spike detection: each (event_type, day,
    * hour-of-day) count compares against the mean of the SAME hour over
    * the previous 7 days — the seasonal baseline that a plain trailing
    * window gets wrong for daily-periodic traffic. ratio ≥ 2 flags the
    * spike.
    *
    * The baseline frame is ROWS −7..−1 inside a (type, hour-of-day)
    * partition ordered by day over the GAP-FILLED day grid, so "previous
    * 7 days" means calendar days even when hours are silent. Integer
    * sums; one divide; the flag compares the pre-rounded ratio. Panel is
    * (types × 24 × days) regardless of scan size. */
  val qTsSpikeRatio: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(col("event_type").as("at"),
        date_trunc("day", col("ts")).cast("date").as("ad"),
        hour(col("ts")).cast("long").as("ahod"))
      .agg(count(lit(1)).as("ax"))
    val grid = Tables.events(s, d).select("event_type").distinct()
      .crossJoin(s.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-01-30')) AS dday"))
      .crossJoin(s.sql("SELECT explode(sequence(0L, 23L)) AS hod"))
    val g = grid.join(agg,
        col("event_type") === col("at") && col("dday") === col("ad") && col("hod") === col("ahod"),
        "left")
      .select(col("event_type"), col("dday"), col("hod"), coalesce(col("ax"), lit(0L)).as("x"))
    val f = Window.partitionBy("event_type", "hod").orderBy("dday").rowsBetween(-7, -1)
    g.select(col("event_type"), col("dday"), col("hod"), col("x"),
        count(lit(1)).over(f).as("np"), sum("x").over(f).as("s"))
      .filter(col("np") === 7 && col("s") > 0)
      .withColumn("base", Num.roundd(col("s").cast("double") / 7.0, 4))
      .withColumn("ratio", Num.roundd(col("x").cast("double") * 7.0 / col("s").cast("double"), 4))
      .withColumn("spike", (col("ratio") >= 2.0).cast("long"))
      .select("event_type", "dday", "hod", "x", "base", "ratio", "spike")
      .orderBy("event_type", "dday", "hod")
  }

  // ---- winsorized mean ----------------------------------------------------

  /** Winsorized (5%/95%-clamped) mean per event_type next to the raw mean
    * — the robust central-tendency report for long-tailed latencies, plus
    * the clip tallies that show how much tail the clamp removed.
    *
    * Two passes: exact p05/p95 (sort-based percentile per group, rounded
    * to the shared 4-dp grid), then the clamp + means with the ≤types-row
    * fence table re-entering as a broadcast dim. The clamped value lands
    * on an exact 1e-4 grid (fences are 4-dp, raw values 2-dp), so both
    * means accumulate as exact integers (cents / ten-thousandths) and the
    * only doubles are the two final divides. */
  val qTsWinsorize: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val fences = ev.groupBy(col("event_type").as("ft"))
      .agg(Num.roundd(expr("percentile(value, 0.05d)"), 4).as("p05"),
        Num.roundd(expr("percentile(value, 0.95d)"), 4).as("p95"))
    ev.join(broadcast(fences), col("event_type") === col("ft"))
      .withColumn("ci",
        expr("cast(round(least(greatest(value, p05), p95) * 10000.0) as bigint)"))
      .groupBy("event_type", "p05", "p95")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_hi"),
        sum(cents).as("sc"), sum("ci").as("si"))
      .select(col("event_type"), col("n"), col("p05"), col("p95"), col("n_lo"), col("n_hi"),
        Num.roundd(col("sc").cast("double") / (col("n").cast("double") * 100.0), 6).as("mean_raw"),
        Num.roundd(col("si").cast("double") / (col("n").cast("double") * 10000.0), 6).as("mean_wins"))
      .orderBy("event_type")
  }

  // ---- Benford first-digit audit ------------------------------------------

  /** Benford's-law first-digit audit over the metric values: observed
    * first-significant-digit frequencies against the log10(1+1/d)
    * expectation — the data-quality screen that catches fabricated
    * metrics, unit mix-ups, and truncated feeds (natural multi-scale
    * measurements track Benford; capped or synthetic ones don't).
    *
    * The first digit comes from the STRING form of the exact cents
    * integer (value×100 — same significant digits), so no log/floor on
    * doubles anywhere near a power-of-ten boundary; expectations are
    * shared 4-dp literals in both engines. One hash agg to 9 rows; the
    * total re-enters by broadcast. */
  val qTsBenford: Q = (s, d) => {
    val digits = Tables.events(s, d)
      .select(cents.as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.agg(sum("n").as("tot"))
    val expected = typedLit(Map(
      1L -> 0.3010, 2L -> 0.1761, 3L -> 0.1249, 4L -> 0.0969, 5L -> 0.0792,
      6L -> 0.0669, 7L -> 0.0580, 8L -> 0.0512, 9L -> 0.0458))
    digits.crossJoin(broadcast(total))
      .withColumn("frac", Num.roundd(col("n").cast("double") / col("tot").cast("double"), 4))
      .withColumn("expected", expected(col("digit")))
      .withColumn("dev", Num.roundd(col("frac") - col("expected"), 4))
      .select("digit", "n", "frac", "expected", "dev")
      .orderBy("digit")
  }

  // ---- token-bucket rate limiter ------------------------------------------

  /** Token-bucket admission control, replayed over the event log: each
    * user's bucket holds 2 tokens refilling at 1 per 2 h; an event is
    * admitted if a token is available — the per-tenant API quota
    * simulation that sizes rate limits BEFORE they go live ("how many of
    * last month's requests would this limit have rejected, and for
    * whom?").
    *
    * The bucket is a sequential recurrence (credit carries between
    * events), so it uses the same chunked-fold machinery as the greedy
    * packer: one codegen'd `aggregate` over each user's (ts, event_id)
    * -sorted event list. ALL state is exact integer µs — credit is "µs
    * of refill", capacity 14 400 s, cost 7 200 s — so the admit decision
    * is an integer compare at every step in both engines; the oracle is
    * an independent recursive CTE running the identical sequence. State
    * is O(user's events) — the per-key bound that holds because rate
    * limits are per-tenant by definition; the unbounded-stream form is
    * the flatMapGroupsWithState sibling with O(1) (credit, last) state. */
  val qTsRateLimit: Q = (s, d) => {
    val C = 14400000000L   // 2 tokens × 2 h of credit, in µs
    val COST = 7200000000L // 1 token = 2 h refill
    // r18: the fold runs in the native graft_rate_limit expression
    // (functions/FoldRuns.scala) — the interpreted `aggregate` HOF
    // re-allocated a 4-field named_struct per element; the native scan is
    // four JVM locals over the same sorted list, integer-parity pinned in
    // FunctionsSpec. Same single user-keyed exchange either way.
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tus"), col("event_id"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("tus"), col("event_id")))).as("es"))
      .withColumn("r", expr(s"graft_rate_limit(es, ${C}L, ${COST}L)"))
      .select(col("user_id"), (col("r.adm") + col("r.rej")).as("n_events"),
        col("r.adm").as("n_admitted"), col("r.rej").as("n_rejected"))
      .orderBy("user_id")
  }

  /** Multi-dimensional root-cause candidates for a week-over-week
    * metric change, Adtributor-style (Bhagwan et al., NSDI 2014): for
    * each dimension (event_type, hour-of-day, weekday) and each value,
    * the EXPLANATORY POWER ep = ΔA_v/ΔA (what fraction of the total
    * change this value accounts for) and the SURPRISE — the value's
    * Jensen–Shannon divergence term between its forecast share
    * p = F_v/F (week 1) and actual share q = A_v/A (week 2). The
    * on-call reads it sorted by surprise within a dimension; the gate
    * orders by (dim, value) so every row is pinned.
    *
    * Determinism: all counts exact longs from ONE narrow scan — the
    * raw pass hash-aggregates straight to the (event_type × hod × dow)
    * cube (≤ vocab·24·7 rows), and every per-dimension rollup is a
    * re-aggregation of that tiny cube, so the dimension fan-out never
    * touches event volume. p and q are single divisions; the JS term
    * is one identical expression tree whose ln rounds inside the 6 dp
    * report round (the PMI libm discipline); zero-count sides take the
    * exact 0·ln(0) := 0 limit by CASE on the LONG count. Empty periods
    * guard surprise to NULL; ΔA = 0 guards ep. */
  val qSreRootCause: Q = (s, d) => {
    val mid = "TIMESTAMP_NTZ '2024-01-08 00:00:00'"
    // localCheckpoint pins the ≤vocab·24·7-row cube so the three rollups
    // and the totals read the materialized tiny table instead of
    // re-planning (and re-scanning) the raw pass per branch — the
    // qGraphLinkPredict reuse device
    val cube = Tables.events(s, d)
      .filter(col("ts") < expr("TIMESTAMP_NTZ '2024-01-15 00:00:00'"))
      .groupBy(col("event_type").as("et"), hour(col("ts")).cast("string").as("hod"),
        expr("weekday(ts)").cast("string").as("dow"))
      .agg(sum(when(col("ts") < expr(mid), 1L).otherwise(0L)).as("cf"),
        sum(when(col("ts") < expr(mid), 0L).otherwise(1L)).as("ca"))
      .transform(ArtifactStore.rotate("root_cause_cube"))
    def roll(dim: String, key: Column): DataFrame = cube
      .groupBy(key.as("dim_value"))
      .agg(sum("cf").as("fv"), sum("ca").as("av"))
      .select(lit(dim).as("dim"), col("dim_value"), col("fv"), col("av"))
    val counts = roll("event_type", col("et"))
      .unionByName(roll("hod", col("hod")))
      .unionByName(roll("dow", col("dow")))
    val totals = counts.groupBy(col("dim").as("dim2"))
      .agg(sum("fv").as("ft"), sum("av").as("act"))
    val p = col("fv").cast("double") / col("ft").cast("double")
    val q = col("av").cast("double") / col("act").cast("double")
    counts.join(broadcast(totals), col("dim") === col("dim2"))
      .select(col("dim"), col("dim_value"), col("fv").as("forecast_n"), col("av").as("actual_n"),
        when(col("act") =!= col("ft"), Num.roundd(
          (col("av") - col("fv")).cast("double") / (col("act") - col("ft")).cast("double"), 6)).as("ep"),
        when(col("ft") > 0L && col("act") > 0L, Num.roundd(lit(0.5) * (
          when(col("fv") === 0L, lit(0.0))
            .otherwise(p * log(lit(2.0) * p / (p + q))) +
          when(col("av") === 0L, lit(0.0))
            .otherwise(q * log(lit(2.0) * q / (p + q)))), 6)).as("surprise"))
      .orderBy("dim", "dim_value")
  }

  /** Multi-window multi-burn-rate SLO alert (the Google SRE-workbook
    * alerting policy): per hour on the gapless grid, the error-budget
    * burn rate over the trailing 1 h and 6 h windows against a 98%
    * availability SLO (budget 2%), paging when BOTH exceed their
    * thresholds (14.4× / 6×) — the two-window AND is what kills both
    * flappy fast-burn pages and slow-burn blindness. The PAGE DECISION
    * is exact-integer cross-multiplication (500·err₁ > 144·tot₁ ∧
    * 25·err₆ > 3·tot₆ — no float decides an alert); the reported burn
    * rates are one division each, rounded at 4 dp. One conditional
    * hash aggregate to the hourly (err, tot) panel; trailing sums are
    * panel-keyed windows — nothing scales with event volume. */
  val qSreBurnAlert: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"),
        count(lit(1)).as("tot"))
    val g = hourGrid(s)
      .join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("err"), lit(0L)).as("err"),
        coalesce(col("tot"), lit(0L)).as("tot"))
    val w6 = Window.orderBy("h").rowsBetween(-5, 0)
    g.withColumn("wn", count(lit(1)).over(w6))
      .withColumn("err6", sum("err").over(w6))
      .withColumn("tot6", sum("tot").over(w6))
      .filter(col("wn") === 6L && col("tot") > 0L && col("tot6") > 0L)
      .select(col("h"),
        Num.roundd(lit(50.0) * col("err") / col("tot"), 4).as("burn_1h"),
        Num.roundd(lit(50.0) * col("err6") / col("tot6"), 4).as("burn_6h"),
        (col("err") * 500L > col("tot") * 144L &&
          col("err6") * 25L > col("tot6") * 3L).as("page"))
      .orderBy("h")
  }

  // ---- catalog ------------------------------------------------------------

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q_ts_rate_limit", qTsRateLimit, Some(
      "WITH RECURSIVE t AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) tus, " +
        "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) i FROM events), " +
        "rec AS (" +
        "SELECT user_id, i, tus, CAST(14400000000 - 7200000000 AS BIGINT) cr, CAST(1 AS BIGINT) adm " +
        "FROM t WHERE i = 1 " +
        "UNION ALL " +
        "SELECT t.user_id, t.i, t.tus, " +
        "CASE WHEN least(14400000000, r.cr + t.tus - r.tus) >= 7200000000 " +
        "THEN least(14400000000, r.cr + t.tus - r.tus) - 7200000000 " +
        "ELSE least(14400000000, r.cr + t.tus - r.tus) END, " +
        "CASE WHEN least(14400000000, r.cr + t.tus - r.tus) >= 7200000000 THEN 1 ELSE 0 END " +
        "FROM rec r JOIN t ON t.user_id = r.user_id AND t.i = r.i + 1) " +
        "SELECT user_id, CAST(count(*) AS BIGINT) n_events, CAST(sum(adm) AS BIGINT) n_admitted, " +
        "CAST(count(*) - sum(adm) AS BIGINT) n_rejected " +
        "FROM rec GROUP BY 1 ORDER BY 1")),
    ("q_ts_apdex", qTsApdex, Some(
      "SELECT CAST(date_trunc('day', ts) AS DATE) dday, event_type, CAST(count(*) AS BIGINT) n, " +
        "CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS BIGINT) n_sat, " +
        "CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0 THEN 1 ELSE 0 END) AS BIGINT) n_tol, " +
        "round((CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS DOUBLE) + " +
        "CAST(sum(CASE WHEN value > 50.0 AND value <= 200.0 THEN 1 ELSE 0 END) AS DOUBLE) * 0.5) / count(*), 4) apdex " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_ts_bollinger", qTsBollinger, Some(
      s"WITH grid AS ($GRID), " +
        "ty AS (SELECT DISTINCT event_type FROM events), " +
        "agg AS (SELECT event_type et, date_trunc('hour', ts) ah, CAST(count(*) AS BIGINT) ax FROM events GROUP BY 1, 2), " +
        "g AS (SELECT ty.event_type, grid.h, coalesce(agg.ax, 0) x FROM ty CROSS JOIN grid " +
        "LEFT JOIN agg ON agg.et = ty.event_type AND agg.ah = grid.h), " +
        "w AS (SELECT event_type, h, x, CAST(count(*) OVER f AS BIGINT) np, " +
        "CAST(sum(x) OVER f AS BIGINT) s, CAST(sum(x*x) OVER f AS BIGINT) ssq FROM g " +
        "WINDOW f AS (PARTITION BY event_type ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)), " +
        "b AS (SELECT event_type, h, x, round(CAST(s AS DOUBLE) / 24.0, 4) ma, " +
        "round(sqrt(CAST(24*ssq - s*s AS DOUBLE) / 576.0), 4) sd FROM w WHERE np = 24), " +
        "e AS (SELECT event_type, h, x, ma, sd, round(ma - 2.0*sd, 4) lo, round(ma + 2.0*sd, 4) hi FROM b) " +
        "SELECT event_type, h, x, ma, sd, lo, hi, " +
        "CAST(CASE WHEN CAST(x AS DOUBLE) > hi THEN 1 WHEN CAST(x AS DOUBLE) < lo THEN -1 ELSE 0 END AS BIGINT) breach " +
        "FROM e ORDER BY event_type, h")),
    ("q_ts_spike_ratio", qTsSpikeRatio, Some(
      "WITH ty AS (SELECT DISTINCT event_type FROM events), " +
        "days AS (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY)) dday), " +
        "hods AS (SELECT unnest(range(0, 24)) hod), " +
        "agg AS (SELECT event_type et, CAST(date_trunc('day', ts) AS DATE) ad, " +
        "CAST(hour(ts) AS BIGINT) ahod, CAST(count(*) AS BIGINT) ax FROM events GROUP BY 1, 2, 3), " +
        "g AS (SELECT ty.event_type, CAST(days.dday AS DATE) dday, CAST(hods.hod AS BIGINT) hod, coalesce(agg.ax, 0) x " +
        "FROM ty CROSS JOIN days CROSS JOIN hods " +
        "LEFT JOIN agg ON agg.et = ty.event_type AND agg.ad = days.dday AND agg.ahod = hods.hod), " +
        "w AS (SELECT event_type, dday, hod, x, CAST(count(*) OVER f AS BIGINT) np, " +
        "CAST(sum(x) OVER f AS BIGINT) s FROM g " +
        "WINDOW f AS (PARTITION BY event_type, hod ORDER BY dday ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)), " +
        "r AS (SELECT event_type, dday, hod, x, round(CAST(s AS DOUBLE) / 7.0, 4) base, " +
        "round(CAST(x AS DOUBLE) * 7.0 / CAST(s AS DOUBLE), 4) ratio FROM w WHERE np = 7 AND s > 0) " +
        "SELECT event_type, dday, hod, x, base, ratio, " +
        "CAST(CASE WHEN ratio >= 2.0 THEN 1 ELSE 0 END AS BIGINT) spike " +
        "FROM r ORDER BY event_type, dday, hod")),
    ("q_ts_winsorize", qTsWinsorize, Some(
      "WITH f AS (SELECT event_type ft, round(quantile_cont(value, 0.05), 4) p05, " +
        "round(quantile_cont(value, 0.95), 4) p95 FROM events GROUP BY 1), " +
        "c AS (SELECT e.event_type, f.p05, f.p95, e.value, " +
        "CAST(round(e.value * 100.0) AS BIGINT) cents, " +
        "CAST(round(least(greatest(e.value, f.p05), f.p95) * 10000.0) AS BIGINT) ci " +
        "FROM events e JOIN f ON f.ft = e.event_type) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) n, p05, p95, " +
        "CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) n_lo, " +
        "CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) n_hi, " +
        "round(CAST(sum(cents) AS DOUBLE) / (count(*) * 100.0), 6) mean_raw, " +
        "round(CAST(sum(ci) AS DOUBLE) / (count(*) * 10000.0), 6) mean_wins " +
        "FROM c GROUP BY event_type, p05, p95 ORDER BY event_type")),
    ("q_ts_benford", qTsBenford, Some(
      "WITH dg AS (SELECT CAST(substr(CAST(CAST(round(value * 100.0) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) digit " +
        "FROM events WHERE CAST(round(value * 100.0) AS BIGINT) > 0), " +
        "c AS (SELECT digit, CAST(count(*) AS BIGINT) n FROM dg GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n) AS BIGINT) tot FROM c), " +
        "x AS (SELECT digit, n, round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 4) frac, " +
        "CAST(CASE digit WHEN 1 THEN 0.3010 WHEN 2 THEN 0.1761 WHEN 3 THEN 0.1249 WHEN 4 THEN 0.0969 " +
        "WHEN 5 THEN 0.0792 WHEN 6 THEN 0.0669 WHEN 7 THEN 0.0580 WHEN 8 THEN 0.0512 ELSE 0.0458 END AS DOUBLE) expected " +
        "FROM c, t) " +
        "SELECT digit, n, frac, expected, round(frac - expected, 4) dev FROM x ORDER BY digit")),
    ("q_sre_root_cause", qSreRootCause, Some(
      "WITH b AS (SELECT CASE WHEN ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END isf, " +
        "event_type, CAST(hour(ts) AS VARCHAR) hod, CAST(isodow(ts) - 1 AS VARCHAR) dow " +
        "FROM events WHERE ts < TIMESTAMP '2024-01-15'), " +
        "u AS (SELECT 'event_type' dim, event_type dim_value, isf FROM b " +
        "UNION ALL SELECT 'hod', hod, isf FROM b " +
        "UNION ALL SELECT 'dow', dow, isf FROM b), " +
        "c AS (SELECT dim, dim_value, CAST(sum(isf) AS BIGINT) fv, " +
        "CAST(count(*) - sum(isf) AS BIGINT) av FROM u GROUP BY 1, 2), " +
        "t AS (SELECT dim, CAST(sum(fv) AS BIGINT) ft, CAST(sum(av) AS BIGINT) act FROM c GROUP BY 1) " +
        "SELECT c.dim, c.dim_value, c.fv forecast_n, c.av actual_n, " +
        "CASE WHEN t.act <> t.ft THEN round(CAST(c.av - c.fv AS DOUBLE) / (t.act - t.ft), 6) END ep, " +
        "CASE WHEN t.ft > 0 AND t.act > 0 THEN round(0.5 * (" +
        "CASE WHEN c.fv = 0 THEN 0.0 ELSE (CAST(c.fv AS DOUBLE) / t.ft) * " +
        "ln(2.0 * (CAST(c.fv AS DOUBLE) / t.ft) / (CAST(c.fv AS DOUBLE) / t.ft + CAST(c.av AS DOUBLE) / t.act)) END + " +
        "CASE WHEN c.av = 0 THEN 0.0 ELSE (CAST(c.av AS DOUBLE) / t.act) * " +
        "ln(2.0 * (CAST(c.av AS DOUBLE) / t.act) / (CAST(c.fv AS DOUBLE) / t.ft + CAST(c.av AS DOUBLE) / t.act)) END" +
        "), 6) END surprise " +
        "FROM c JOIN t ON t.dim = c.dim ORDER BY 1, 2")),
    ("q_sre_burn_alert", qSreBurnAlert, Some(
      s"WITH g AS ($GRID), " +
        "hc AS (SELECT date_trunc('hour', ts) h, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) err, " +
        "CAST(count(*) AS BIGINT) tot FROM events GROUP BY 1), " +
        "p AS (SELECT g.h, CAST(coalesce(hc.err, 0) AS BIGINT) err, CAST(coalesce(hc.tot, 0) AS BIGINT) tot " +
        "FROM g LEFT JOIN hc ON hc.h = g.h), " +
        "w AS (SELECT h, err, tot, CAST(count(*) OVER w6 AS BIGINT) wn, " +
        "CAST(sum(err) OVER w6 AS BIGINT) err6, CAST(sum(tot) OVER w6 AS BIGINT) tot6 FROM p " +
        "WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)) " +
        "SELECT h, round(50.0 * err / tot, 4) burn_1h, round(50.0 * err6 / tot6, 4) burn_6h, " +
        "(err * 500 > tot * 144 AND err6 * 25 > tot6 * 3) page " +
        "FROM w WHERE wn = 6 AND tot > 0 AND tot6 > 0 ORDER BY h")),
  )
}
