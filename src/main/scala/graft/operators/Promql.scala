package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PromQL-completeness tier — the instant-vector and alerting idioms a
  * Prometheus-shaped user reaches for beyond the range-vector functions
  * already in [[TimeSeries]] (rate/irate/increase/resets/deriv/
  * histogram_quantile/predict_linear): `count_values` (value-distribution
  * of a metric), subqueries (`max_over_time(rate(m[1h])[6h:1h])`), the
  * Google-SRE multi-window multi-burn-rate SLO alert, `idelta` (last-two-
  * samples delta), and the `and` vector-set operator (label-matched
  * series intersection).
  *
  * Scale theme: every window function here rides the POST-AGGREGATE
  * hourly series (≤ hours×types rows after one map-side-combining hash
  * aggregate of the raw scan) — never the raw events. The two global
  * windows (SLO, vector-and normalizer) order a single ≤720-row series;
  * at 100 TB the same plans hold because the series length depends on
  * the time range, not the event count.
  *
  * Determinism: counts are exact longs; every comparison is integer
  * cross-multiplication (`errors·100 > total·30` instead of
  * `ratio > 0.30`), so no float threshold can flip between engines; the
  * only doubles are final displayed rates, pre-rounded via [[Num.roundd]].
  */
object Promql {
  /** Integer hour index since the dataset origin — the RANGE-frame order
    * key (hour gaps must consume frame width, so ROWS frames are wrong). */
  private def hourIdx: Column =
    expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', h)")

  /** PromQL `count_values("bucket", m)`: how many samples of each metric
    * fall in each 50-wide value bucket, per series label. One hash
    * aggregate; bucket = floor(value/50)·50 is a pure row function, so
    * the whole query is a single map-side-combining shuffle. */
  val qTsCountValues: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(col("value") / 50) * 50).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bucket")

  /** PromQL subquery `max_over_time(rate(m[1h])[6h:1h])`: the inner
    * expression (hourly per-second rate) is evaluated per step, then the
    * outer range function takes the trailing-6h max. The outer window
    * RANGE-frames on the integer hour index so missing hours consume
    * frame width (a ROWS frame would silently stretch the 6h lookback
    * across gaps). max over PRE-ROUNDED rates is exact. */
  val qTsSubquery: Q = (s, d) => {
    val h = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hi", hourIdx)
      .withColumn("rate", Num.roundd(col("n").cast("double") / 3600.0, 6))
    val w = Window.partitionBy("event_type").orderBy("hi").rangeBetween(-5, 0)
    h.select(col("event_type"), col("h"), col("rate"),
        max("rate").over(w).as("max6"),
        count(lit(1)).over(w).as("n6"))
      .orderBy("event_type", "h")
  }

  /** Multi-window multi-burn-rate SLO alert (Google SRE workbook ch. 5,
    * adapted to the data's hourly granularity): `page` when BOTH the 1h
    * and 6h error ratios burn past 23%, `ticket` when both the 6h and
    * 24h ratios pass 21% — the long window confirms the burn is
    * sustained, the short window gates alert reset lag. (The data's
    * baseline error share is ≈20%, so the thresholds sit 1–3σ above it
    * and fire on genuine hot stretches at every SF rather than never or
    * always.) All three ratios come from ONE hourly conditional
    * aggregate (never three scans); the trailing sums are RANGE windows
    * over the ≤720-row series. Comparisons are exact integer
    * cross-multiplications. */
  val qTsSloBurn: Q = (s, d) => {
    val h = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(when(col("event_type") === "error", 1)).as("e1"),
        count(lit(1)).as("t1"))
      .withColumn("hi", hourIdx)
    val w6 = Window.orderBy("hi").rangeBetween(-5, 0)
    val w24 = Window.orderBy("hi").rangeBetween(-23, 0)
    h.select(col("h"), col("e1"), col("t1"),
        sum("e1").over(w6).as("e6"), sum("t1").over(w6).as("t6"),
        sum("e1").over(w24).as("e24"), sum("t1").over(w24).as("t24"))
      .withColumn("page",
        (col("e1") * 100 > col("t1") * 23 && col("e6") * 100 > col("t6") * 23).cast("long"))
      .withColumn("ticket",
        (col("e6") * 1000 > col("t6") * 210 && col("e24") * 1000 > col("t24") * 210).cast("long"))
      .filter(col("page") === 1 || col("ticket") === 1)
      .orderBy("h")
  }

  /** PromQL `idelta(m[1d])`: difference between the LAST TWO samples of
    * each series per day — the instant-delta a gauge dashboard plots.
    * One keyed window ranks samples within (series, day) descending;
    * only ranks 1–2 survive into a conditional aggregate, so the sort
    * shuffle carries the raw scan once and days with a single sample
    * drop out explicitly (PromQL returns no point there either). */
  val qTsIdelta: Q = (s, d) => {
    val withDay = Tables.events(s, d)
      .withColumn("dday", date_trunc("day", col("ts")).cast("date"))
    val w = Window.partitionBy("event_type", "dday")
      .orderBy(col("ts").desc, col("event_id").desc)
    withDay
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy("event_type", "dday")
      .agg(max("ts").as("last_ts"),
        Num.roundd(max(when(col("rn") === 1, col("value"))) -
          max(when(col("rn") === 2, col("value"))), 2).as("idelta"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") === 2).drop("cnt")
      .orderBy("event_type", "dday")
  }

  /** PromQL `and` (vector set intersection with label matching): hours
    * where the error series runs above its own per-hour mean AND the
    * purchase series runs below its mean — "errors spike while revenue
    * dips". Both series come from ONE conditional aggregate; the means
    * enter as a broadcast 1-row aggregate and the comparison is the
    * exact cross-multiplied form (errors·nh > total_errors), so the
    * thresholds are scale-free: the same query is meaningful at any SF
    * without a hand-tuned constant. */
  val qTsVectorAnd: Q = (s, d) => {
    val h = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(when(col("event_type") === "error", 1)).as("errors"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"))
    val t = h.agg(count(lit(1)).as("nh"),
      sum("errors").as("te"), sum("purchases").as("tp"))
    h.crossJoin(broadcast(t))
      .filter(col("errors") * col("nh") > col("te") &&
        col("purchases") * col("nh") < col("tp"))
      .select("h", "errors", "purchases")
      .orderBy("h")
  }

  // ---- catalog ------------------------------------------------------------

  val all: Seq[Entry] = Seq(
    Entry("q_ts_count_values", qTsCountValues, Some(
      "SELECT event_type, CAST(floor(value/50)*50 AS BIGINT) bucket, CAST(count(*) AS BIGINT) n " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ts_subquery", qTsSubquery, Some(
      "WITH h0 AS (SELECT event_type, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2), " +
        "r AS (SELECT event_type, h, CAST(datediff('hour', TIMESTAMP '2024-01-01', h) AS BIGINT) hi, " +
        "round(CAST(n AS DOUBLE)/3600.0, 6) rate FROM h0) " +
        "SELECT event_type, h, rate, max(rate) OVER w max6, CAST(count(*) OVER w AS BIGINT) n6 " +
        "FROM r WINDOW w AS (PARTITION BY event_type ORDER BY hi RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_type, h")),
    Entry("q_ts_slo_burn", qTsSloBurn, Some(
      "WITH h AS (SELECT date_trunc('hour', ts) h, " +
        "CAST(datediff('hour', TIMESTAMP '2024-01-01', date_trunc('hour', ts)) AS BIGINT) hi, " +
        "CAST(count(*) FILTER (event_type = 'error') AS BIGINT) e1, CAST(count(*) AS BIGINT) t1 FROM events GROUP BY 1, 2), " +
        "w AS (SELECT h, e1, t1, " +
        "CAST(sum(e1) OVER w6 AS BIGINT) e6, CAST(sum(t1) OVER w6 AS BIGINT) t6, " +
        "CAST(sum(e1) OVER w24 AS BIGINT) e24, CAST(sum(t1) OVER w24 AS BIGINT) t24 " +
        "FROM h WINDOW w6 AS (ORDER BY hi RANGE BETWEEN 5 PRECEDING AND CURRENT ROW), " +
        "w24 AS (ORDER BY hi RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
        "SELECT h, e1, t1, e6, t6, e24, t24, " +
        "CAST(CASE WHEN e1*100 > t1*23 AND e6*100 > t6*23 THEN 1 ELSE 0 END AS BIGINT) page, " +
        "CAST(CASE WHEN e6*1000 > t6*210 AND e24*1000 > t24*210 THEN 1 ELSE 0 END AS BIGINT) ticket " +
        "FROM w WHERE (e1*100 > t1*23 AND e6*100 > t6*23) OR (e6*1000 > t6*210 AND e24*1000 > t24*210) " +
        "ORDER BY h")),
    Entry("q_ts_idelta", qTsIdelta, Some(
      "WITH r AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) dday, ts, value, event_id, " +
        "row_number() OVER (PARTITION BY event_type, date_trunc('day', ts) ORDER BY ts DESC, event_id DESC) rn FROM events) " +
        "SELECT event_type, dday, max(ts) last_ts, " +
        "round(max(CASE WHEN rn = 1 THEN value END) - max(CASE WHEN rn = 2 THEN value END), 2) idelta " +
        "FROM r WHERE rn <= 2 GROUP BY 1, 2 HAVING count(*) = 2 ORDER BY 1, 2")),
    Entry("q_ts_vector_and", qTsVectorAnd, Some(
      "WITH h AS (SELECT date_trunc('hour', ts) h, " +
        "CAST(count(*) FILTER (event_type = 'error') AS BIGINT) errors, " +
        "CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) purchases FROM events GROUP BY 1), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) nh, CAST(sum(errors) AS BIGINT) te, " +
        "CAST(sum(purchases) AS BIGINT) tp FROM h) " +
        "SELECT h.h, h.errors, h.purchases FROM h, t " +
        "WHERE h.errors * t.nh > t.te AND h.purchases * t.nh < t.tp ORDER BY h.h")),
  )
}
