package graft.operators

import graft.Catalog.{Entry, Q}
import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival-analysis tier — time-to-event estimation under censoring,
  * the product-growth / churn primitive none of the descriptive funnel
  * operators (q_ts_funnel, q_ts_retention) can express: what FRACTION
  * of enrolled users has not yet converted by hour t, when some users'
  * observation windows end before they convert? Public formulation:
  * Kaplan & Meier (1958), the nonparametric product-limit estimator.
  *
  * Study design on this fixture (events are dense, so censoring must
  * come from the CALENDAR, not from dropout): staggered-entry
  * administrative censoring. A user ENROLLS at their first hour-
  * truncated 'signup' before the study end (2024-01-07 00:00); the
  * event is their first hour-truncated 'purchase' at-or-after
  * enrollment; users whose purchase falls at-or-after the study end
  * are CENSORED at it — so censoring times vary per user (study end
  * minus staggered entry), the classic type-I design.
  *
  * Determinism (SURVEY §2.0): durations are exact hour longs between
  * hour-TRUNCATED endpoints (timestampdiff/datediff agree only on
  * aligned timestamps — the hourlyPanel discipline); at-risk counts
  * and death/censor tallies are exact longs; the product-limit fold
  * multiplies with a 6 dp round EVERY step on both engines, so the
  * recursive-CTE oracle replays the identical sequence (the
  * q_ts_kalman / q_ts_capped_cumsum replay discipline). Each hazard
  * is one division of exact longs.
  *
  * Scale notes: the raw scan collapses to per-user firsts (two
  * map-side-combinable hash aggregates), the segment strata come from
  * one key join to customer, and the fold runs per SEGMENT over the
  * distinct-duration rollup — ≤ (study hours) rows per segment
  * regardless of user or event volume, embarrassingly parallel across
  * strata. Nothing here grows with the corpus: subjects aggregate to
  * (segment, duration) counts before any sequential work.
  */
object Survival {
  private val StudyEnd = "TIMESTAMP_NTZ '2024-01-07 00:00:00'"

  private def r6(v: Double): Double = {
    val m = math.floor(math.abs(v) * 1e6 + 0.5) / 1e6
    if (v < 0) -m else m
  }

  /** The shared study design: per-subject (segment, duration, event
    * flag) collapsed to the (segment, duration) → (deaths, censored)
    * rollup every estimator below folds over — two map-side-combinable
    * hash aggregates plus one key join to customer, ≤ (segments ×
    * study-hours) rows out regardless of event volume. */
  private def subjectRollup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val enrolled = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(date_trunc("hour", col("ts"))).as("s0"))
      .filter(col("s0") < expr(StudyEnd))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu_id"), date_trunc("hour", col("ts")).as("ph"))
    val firstPu = enrolled
      .join(purch, col("user_id") === col("pu_id") && col("ph") >= col("s0"), "left")
      .groupBy(col("user_id"), col("s0")).agg(min("ph").as("p0"))
    val seg = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val observed = col("p0").isNotNull && col("p0") < expr(StudyEnd)
    firstPu.join(seg, col("user_id") === col("c_custkey"))
      .select(col("seg"),
        when(observed, expr("timestampdiff(HOUR, s0, p0)"))
          .otherwise(expr(s"timestampdiff(HOUR, s0, $StudyEnd)"))
          .cast("long").as("t"),
        when(observed, 1L).otherwise(0L).as("ev"))
      .groupBy("seg", "t")
      .agg(sum("ev").as("d"), sum(lit(1L) - col("ev")).as("cns"))
  }

  /** Kaplan–Meier signup→purchase conversion curve per market segment:
    * one row per (segment, distinct duration) with the at-risk count,
    * deaths (conversions), censorings, the step hazard d/n and the
    * product-limit survival S(t). */
  val qUserKaplanMeier: Q = (s, d) => {
    import s.implicits._
    subjectRollup(s, d)
      .select(col("seg"), col("t"), col("d"), col("cns"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (sg: String, it: Iterator[(String, Long, Long, Long)]) =>
        val xs = it.toArray.sortBy(_._2)
        var atRisk = xs.iterator.map(r => r._3 + r._4).sum
        var surv = 1.0
        xs.iterator.map { case (_, t, dd, cc) =>
          val n = atRisk
          val hazard = if (dd > 0) r6(dd.toDouble / n.toDouble) else 0.0
          if (dd > 0) surv = r6(surv * (1.0 - dd.toDouble / n.toDouble))
          atRisk -= (dd + cc)
          (sg, t, n, dd, cc, hazard, surv)
        }
      }
      .toDF("segment", "t_hours", "at_risk", "deaths", "censored", "hazard", "survival")
      .orderBy("segment", "t_hours")
  }

  /** Greenwood-free exact-ratio Nelson–Aalen cumulative hazard per
    * segment (Nelson 1972, Aalen 1978): H(t) = Σ_{t'≤t} d/n with the
    * per-step hazard rounded at 6 dp (the KM discipline) and its
    * variance estimator Σ d/n² rounded at 9 dp. Fully DECLARATIVE —
    * no fold: the at-risk count is a suffix running sum over the
    * (segment, duration) rollup and the cumulatives are prefix running
    * sums, all inside segment-keyed windows over ≤ study-hours rows.
    * The final 6/9 dp rounds absorb the ≤1e−13 association drift
    * between the two engines' ordered-frame accumulations. */
  val qUserNelsonAalen: Q = (s, d) => {
    val w = Window.partitionBy("seg").orderBy("t")
    val suffix = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prefix = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    subjectRollup(s, d)
      .withColumn("n", sum(col("d") + col("cns")).over(suffix))
      .withColumn("hz", when(col("d") > 0L,
        Num.roundd(col("d").cast("double") / col("n").cast("double"), 6)).otherwise(lit(0.0)))
      .withColumn("vz", when(col("d") > 0L,
        Num.roundd(col("d").cast("double") / (col("n") * col("n")).cast("double"), 9)).otherwise(lit(0.0)))
      .select(col("seg").as("segment"), col("t").as("t_hours"),
        col("n").as("at_risk"), col("d").as("deaths"), col("cns").as("censored"),
        col("hz").as("hazard"),
        Num.roundd(sum("hz").over(prefix), 6).as("cumhaz"),
        Num.roundd(sum("vz").over(prefix), 9).as("cumvar"))
      .orderBy("segment", "t_hours")
  }

  /** One-vs-rest log-rank test per market segment (Mantel 1966; Peto &
    * Peto 1972): at every corpus-wide event time, the segment's observed
    * deaths vs the hypergeometric expectation d·n_g/n and variance
    * d·n_g·(n−n_g)·(n−d) / (n²·(n−1)), summed into the z and chi-square
    * statistics — "does this segment convert on a different clock than
    * everyone else". Every count is an exact long (the 4-factor variance
    * numerator stays under 2^63 while subjects < ~55k per time point;
    * beyond that the term needs DecimalType); each time-point term is
    * ONE division of exact longs rounded at 9 dp; the per-segment sums
    * round at 6 dp. The global event-time spine is a ≤ study-hours
    * aggregate, so its single-partition window and broadcast back
    * against the segment rollup are bounded by the calendar, not the
    * corpus. */
  val qUserLogrank: Q = (s, d) => {
    // r18: the rollup feeds THREE consumers (spine, at-risk join, deaths
    // side) and its corpus-sized signup/purchase/customer join subtree
    // re-ran per consumer (plans/r18/user_logrank_before: 4 scans,
    // 16 jobs). Checkpoint state is the ≤ segments × study-hours grid.
    val r = ArtifactStore.rotate("logrank_rollup")(subjectRollup(s, d))
    val wg = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val spine = r.groupBy("t")
      .agg(sum("d").as("dall"), sum(col("d") + col("cns")).as("rall"))
      .withColumn("nall", sum("rall").over(wg))
      .filter(col("dall") > 0L)
      .select(col("t").as("te"), col("dall"), col("nall"))
    val ng = r.join(broadcast(spine), col("t") >= col("te"))
      .groupBy("seg", "te", "dall", "nall")
      .agg(sum(col("d") + col("cns")).as("ng"))
    val dg = r.select(col("seg").as("sg2"), col("t").as("t2"), col("d").as("dgv"))
    val terms = ng
      .join(dg, col("seg") === col("sg2") && col("te") === col("t2"), "left")
      .select(col("seg"), coalesce(col("dgv"), lit(0L)).as("o"),
        Num.roundd((col("dall") * col("ng")).cast("double") / col("nall").cast("double"), 9).as("e1"),
        when(col("nall") > 1L, Num.roundd(
          (col("dall") * col("ng") * (col("nall") - col("ng")) * (col("nall") - col("dall"))).cast("double") /
            (col("nall") * col("nall") * (col("nall") - 1L)).cast("double"), 9)).otherwise(lit(0.0)).as("v1"))
    val agg = terms.groupBy("seg")
      .agg(sum("o").as("o_events"),
        Num.roundd(sum("e1"), 6).as("e_expected"),
        Num.roundd(sum("v1"), 6).as("lr_var"))
    agg.select(col("seg").as("segment"), col("o_events"), col("e_expected"), col("lr_var"),
      when(col("lr_var") > 0.0, Num.roundd(
        (col("o_events").cast("double") - col("e_expected")) / sqrt(col("lr_var")), 6)).as("z"),
      when(col("lr_var") > 0.0, Num.roundd(
        (col("o_events").cast("double") - col("e_expected")) *
          (col("o_events").cast("double") - col("e_expected")) / col("lr_var"), 6)).as("chi2"))
      .orderBy("segment")
  }

  // ---- catalog ------------------------------------------------------------

  /** Shared oracle prefix: the per-subject (segment, duration, event)
    * rollup CTEs mirroring [[subjectRollup]]. */
  private val SubjCte =
    "WITH RECURSIVE sg AS (SELECT user_id, min(date_trunc('hour', ts)) s0 FROM events " +
      "WHERE event_type = 'signup' GROUP BY 1), " +
      "en AS (SELECT * FROM sg WHERE s0 < TIMESTAMP '2024-01-07'), " +
      "pu AS (SELECT e.user_id, min(date_trunc('hour', e.ts)) p0 FROM events e " +
      "JOIN en ON en.user_id = e.user_id AND date_trunc('hour', e.ts) >= en.s0 " +
      "WHERE e.event_type = 'purchase' GROUP BY 1), " +
      "subj AS (SELECT c.c_mktsegment seg, " +
      "CAST(CASE WHEN pu.p0 IS NOT NULL AND pu.p0 < TIMESTAMP '2024-01-07' " +
      "THEN datediff('hour', en.s0, pu.p0) " +
      "ELSE datediff('hour', en.s0, TIMESTAMP '2024-01-07') END AS BIGINT) t, " +
      "CAST(CASE WHEN pu.p0 IS NOT NULL AND pu.p0 < TIMESTAMP '2024-01-07' THEN 1 ELSE 0 END AS BIGINT) ev " +
      "FROM en LEFT JOIN pu ON pu.user_id = en.user_id " +
      "JOIN customer c ON c.c_custkey = en.user_id), " +
      "ru AS (SELECT seg, t, CAST(sum(ev) AS BIGINT) d, CAST(count(*) - sum(ev) AS BIGINT) cns " +
      "FROM subj GROUP BY 1, 2), "

  val all: Seq[Entry] = Seq(
    Entry("q_user_kaplan_meier", qUserKaplanMeier, Some(
      SubjCte +
        "r AS (SELECT seg, t, d, cns, " +
        "CAST(row_number() OVER (PARTITION BY seg ORDER BY t) AS BIGINT) rn FROM ru), " +
        "tot AS (SELECT seg, CAST(sum(d + cns) AS BIGINT) n0 FROM r GROUP BY 1), " +
        "km AS (SELECT r.seg, r.t, r.rn, tot.n0 n, r.d, r.cns, " +
        "CASE WHEN r.d > 0 THEN round(CAST(r.d AS DOUBLE) / tot.n0, 6) ELSE 0.0 END hazard, " +
        "CASE WHEN r.d > 0 THEN round(1.0 * (1.0 - CAST(r.d AS DOUBLE) / tot.n0), 6) ELSE 1.0 END surv, " +
        "tot.n0 - r.d - r.cns rem " +
        "FROM r JOIN tot ON tot.seg = r.seg WHERE r.rn = 1 " +
        "UNION ALL " +
        "SELECT r.seg, r.t, r.rn, km.rem n, r.d, r.cns, " +
        "CASE WHEN r.d > 0 THEN round(CAST(r.d AS DOUBLE) / km.rem, 6) ELSE 0.0 END, " +
        "CASE WHEN r.d > 0 THEN round(km.surv * (1.0 - CAST(r.d AS DOUBLE) / km.rem), 6) ELSE km.surv END, " +
        "km.rem - r.d - r.cns " +
        "FROM km JOIN r ON r.seg = km.seg AND r.rn = km.rn + 1) " +
        "SELECT seg segment, t t_hours, n at_risk, d deaths, cns censored, hazard, " +
        "round(surv, 6) survival FROM km ORDER BY 1, 2")),
    Entry("q_user_nelson_aalen", qUserNelsonAalen, Some(
      SubjCte +
        "st AS (SELECT seg, t, d, cns, " +
        "CAST(sum(d + cns) OVER (PARTITION BY seg ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) n FROM ru), " +
        "hz AS (SELECT *, CASE WHEN d > 0 THEN round(CAST(d AS DOUBLE) / n, 6) ELSE 0.0 END hzv, " +
        "CASE WHEN d > 0 THEN round(CAST(d AS DOUBLE) / (n * n), 9) ELSE 0.0 END vzv FROM st) " +
        "SELECT seg segment, t t_hours, n at_risk, d deaths, cns censored, hzv hazard, " +
        "round(sum(hzv) OVER (PARTITION BY seg ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) cumhaz, " +
        "round(sum(vzv) OVER (PARTITION BY seg ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) cumvar " +
        "FROM hz ORDER BY 1, 2")),
    Entry("q_user_logrank", qUserLogrank, Some(
      SubjCte +
        "sp AS (SELECT t te, dall, nall FROM (SELECT t, CAST(sum(d) AS BIGINT) dall, " +
        "CAST(sum(sum(d + cns)) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) nall " +
        "FROM ru GROUP BY t) WHERE dall > 0), " +
        "ng AS (SELECT ru.seg, sp.te, sp.dall, sp.nall, CAST(sum(ru.d + ru.cns) AS BIGINT) ng " +
        "FROM ru JOIN sp ON ru.t >= sp.te GROUP BY 1, 2, 3, 4), " +
        "tm AS (SELECT ng.seg, CAST(coalesce(ru.d, 0) AS BIGINT) o, " +
        "round(CAST(ng.dall * ng.ng AS DOUBLE) / ng.nall, 9) e1, " +
        "CASE WHEN ng.nall > 1 THEN round(CAST(ng.dall * ng.ng * (ng.nall - ng.ng) * (ng.nall - ng.dall) AS DOUBLE) " +
        "/ CAST(ng.nall * ng.nall * (ng.nall - 1) AS DOUBLE), 9) ELSE 0.0 END v1 " +
        "FROM ng LEFT JOIN ru ON ru.seg = ng.seg AND ru.t = ng.te), " +
        "ag AS (SELECT seg, CAST(sum(o) AS BIGINT) o_events, round(sum(e1), 6) e_expected, round(sum(v1), 6) lr_var FROM tm GROUP BY 1) " +
        "SELECT seg segment, o_events, e_expected, lr_var, " +
        "CASE WHEN lr_var > 0 THEN round((o_events - e_expected) / sqrt(lr_var), 6) END z, " +
        "CASE WHEN lr_var > 0 THEN round((o_events - e_expected) * (o_events - e_expected) / lr_var, 6) END chi2 " +
        "FROM ag ORDER BY 1")))
}
