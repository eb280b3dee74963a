package graft.operators

import graft.Catalog.{Entry, Q}
import graft.promql.PromQL
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog tier for the PromQL front door (graft.promql): every entry is
  * a REAL PromQL string compiled by Parser+Compiler onto the hourly-grid
  * plans, gated against a hand-written DuckDB twin that mirrors the
  * compiler's arithmetic step for step (exact window counts, one final
  * divide, 6dp rounds — the repo determinism discipline). The SQL here
  * is the oracle for the TEXT, not a second implementation: if the
  * parser mis-associates or the compiler mis-frames a window, the hash
  * gate catches it. PromqlFrontSpec separately brute-forces every
  * function against a driver-side reference evaluator. */
object PromqlFront {
  private def q(text: String): Q = (s, d) => PromQL.query(s, d, text)

  private val hi =
    "CAST(datediff('hour', TIMESTAMP '2024-01-01', date_trunc('hour', ts)) AS BIGINT)"

  val all: Seq[Entry] = Seq(

    Entry("q_pql_rate_sum",
      q("""sum by (type) (rate(events{type!="view"}[6h]))"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events WHERE event_type != 'view' GROUP BY 1,2,3,4), " +
          "w AS (SELECT ty, h, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s) " +
          "SELECT ty AS \"type\", h, round(CAST(sum(wc) AS DOUBLE)/21600.0, 6) AS \"value\" " +
          "FROM w GROUP BY 1, 2 ORDER BY 1, 2")),

    Entry("q_pql_hist_quantile",
      q("""histogram_quantile(0.9, sum by (le) (rate(events_bucket[1h])))"""),
      Some(
        "WITH b AS (SELECT date_trunc('hour', ts) h, " +
          "CASE WHEN value <= 10 THEN 10.0 WHEN value <= 25 THEN 25.0 WHEN value <= 50 THEN 50.0 " +
          "WHEN value <= 100 THEN 100.0 WHEN value <= 200 THEN 200.0 WHEN value <= 400 THEN 400.0 " +
          "ELSE NULL END lev FROM events), " + // NULL = the +Inf bucket
          "c AS (SELECT h, lev, CAST(count(*) AS BIGINT) c FROM b GROUP BY 1, 2), " +
          "w AS (SELECT h, lev, c, " +
          "CAST(sum(c) OVER (PARTITION BY h ORDER BY lev NULLS LAST) AS BIGINT) cum, " +
          "CAST(sum(c) OVER (PARTITION BY h) AS BIGINT) tot, " +
          "max(lev) OVER (PARTITION BY h) maxf, " +
          "coalesce(lag(lev) OVER (PARTITION BY h ORDER BY lev NULLS LAST), 0.0) lo FROM c), " +
          "t AS (SELECT *, 0.9 * CAST(tot AS DOUBLE) target FROM w) " +
          "SELECT h, round(CASE WHEN lev IS NULL THEN maxf " +
          "ELSE lo + (lev - lo) * (target - CAST(cum - c AS DOUBLE)) / CAST(c AS DOUBLE) END, 6) AS \"value\" " +
          "FROM t WHERE CAST(cum AS DOUBLE) >= target AND CAST(cum - c AS DOUBLE) < target " +
          "ORDER BY h")),

    Entry("q_pql_topk",
      q("""topk(2, sum by (type) (increase(events[24h])))"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1,2,3,4), " +
          "w AS (SELECT ty, h, hi, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "g AS (SELECT ty, h, hi, CAST(sum(wc) AS BIGINT) v FROM w GROUP BY 1, 2, 3), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY hi ORDER BY v DESC, ty) rn FROM g) " +
          "SELECT ty AS \"type\", h, round(CAST(v AS DOUBLE), 6) AS \"value\" " +
          "FROM r WHERE rn <= 2 ORDER BY 1, 2")),

    Entry("q_pql_ratio",
      q("""sum(rate(events{type="click"}[1h])) / sum(rate(events{type="view"}[1h]))"""),
      Some(
        "WITH h AS (SELECT date_trunc('hour', ts) h, " +
          "CAST(count(*) FILTER (event_type = 'click') AS BIGINT) c, " +
          "CAST(count(*) FILTER (event_type = 'view') AS BIGINT) v FROM events GROUP BY 1) " +
          "SELECT h, round((CAST(c AS DOUBLE)/3600.0) / (CAST(v AS DOUBLE)/3600.0), 6) AS \"value\" " +
          "FROM h WHERE c > 0 AND v > 0 ORDER BY h")),

    Entry("q_pql_quantile",
      q("""quantile_over_time(0.9, events{type="click"}[4h])"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, value, " +
          s"$hi hi0 FROM events WHERE event_type = 'click'), " +
          "e AS (SELECT ty, u, value, hi0, unnest(range(hi0, hi0 + 4)) tick FROM s), " +
          "g AS (SELECT ty, u, tick, round(quantile_cont(value, 0.9), 4) qv, " +
          "max(CASE WHEN tick = hi0 THEN 1 ELSE 0 END) own FROM e GROUP BY 1, 2, 3) " +
          "SELECT ty AS \"type\", u AS \"user\", " +
          "TIMESTAMP '2024-01-01' + tick * INTERVAL 1 HOUR AS h, qv AS \"value\" " +
          "FROM g WHERE own = 1 ORDER BY 1, 2, 3")),

    Entry("q_pql_subquery",
      q("""max_over_time(rate(events{type="error"}[1h])[24h:1h])"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events WHERE event_type = 'error' GROUP BY 1,2,3,4), " +
          "r AS (SELECT ty, u, h, hi, CAST(c AS DOUBLE)/3600.0 rate FROM s) " +
          "SELECT ty AS \"type\", u AS \"user\", h, " +
          "round(max(rate) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 23 PRECEDING AND CURRENT ROW), 6) AS \"value\" " +
          "FROM r ORDER BY 1, 2, 3")),

    Entry("q_pql_irate",
      q("""irate(events{type="view"}[6h])"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, ts, value, event_id sid, " +
          s"date_trunc('hour', ts) h, $hi hi FROM events WHERE event_type = 'view'), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY ty, u, h ORDER BY ts DESC, sid DESC) rn FROM s), " +
          "t AS (SELECT ty, u, h, hi, " +
          "max(CASE WHEN rn = 1 THEN ts END) l1t, max(CASE WHEN rn = 1 THEN value END) l1v, " +
          "max(CASE WHEN rn = 2 THEN ts END) l2t, max(CASE WHEN rn = 2 THEN value END) l2v " +
          "FROM r WHERE rn <= 2 GROUP BY 1, 2, 3, 4), " +
          "p AS (SELECT ty, u, h, hi, l1t, l1v, l2t, l2v, " +
          "lag(hi) OVER w ph, lag(l1t) OVER w plt, lag(l1v) OVER w plv " +
          "FROM t WINDOW w AS (PARTITION BY ty, u ORDER BY hi)), " +
          "q AS (SELECT ty, u, h, l1t, l1v, " +
          "CASE WHEN l2v IS NOT NULL THEN l2t WHEN ph IS NOT NULL AND hi - ph <= 5 THEN plt END p2t, " +
          "CASE WHEN l2v IS NOT NULL THEN l2v WHEN ph IS NOT NULL AND hi - ph <= 5 THEN plv END p2v FROM p) " +
          "SELECT ty AS \"type\", u AS \"user\", h, " +
          "round((CASE WHEN l1v >= p2v THEN l1v - p2v ELSE l1v END) / " +
          "((epoch_us(l1t) - epoch_us(p2t)) / 1000000.0), 6) AS \"value\" " +
          "FROM q WHERE p2t IS NOT NULL ORDER BY 1, 2, 3")),

    Entry("q_pql_wow_ratio",
      q("""sum by (type) (rate(events[1h])) / sum by (type) (rate(events[1h] offset 1w))"""),
      Some(
        "WITH c AS (SELECT event_type ty, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2, 3), " +
          "p AS (SELECT ty, hi + 168 hi, n FROM c) " +
          "SELECT c.ty AS \"type\", c.h, " +
          "round((CAST(c.n AS DOUBLE)/3600.0) / (CAST(p.n AS DOUBLE)/3600.0), 6) AS \"value\" " +
          "FROM c JOIN p ON p.ty = c.ty AND p.hi = c.hi ORDER BY 1, 2")),

    Entry("q_pql_alert_filter",
      q("""sum by (type) (rate(events{type=~"error|click"}[6h])) > 0.0002"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events " +
          "WHERE regexp_matches(event_type, '^(?:error|click)$') GROUP BY 1,2,3,4), " +
          "w AS (SELECT ty, h, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "g AS (SELECT ty AS \"type\", h, round(CAST(sum(wc) AS DOUBLE)/21600.0, 6) AS \"value\" " +
          "FROM w GROUP BY 1, 2) " +
          "SELECT * FROM g WHERE \"value\" > 0.0002 ORDER BY 1, 2")),

    Entry("q_pql_unless",
      q("""rate(events{type="error"}[1h]) unless ignoring(type) rate(events{type="purchase"}[1h])"""),
      Some(
        "WITH e AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) n FROM events WHERE event_type = 'error' GROUP BY 1, 2, 3, 4), " +
          "p AS (SELECT DISTINCT CAST(user_id AS VARCHAR) u, " +
          s"$hi hi FROM events WHERE event_type = 'purchase') " +
          "SELECT e.ty AS \"type\", e.u AS \"user\", e.h, " +
          "round(CAST(e.n AS DOUBLE)/3600.0, 6) AS \"value\" " +
          "FROM e ANTI JOIN p ON p.u = e.u AND p.hi = e.hi ORDER BY 1, 2, 3")),

    Entry("q_pql_binop_match",
      q("""rate(events{type="click"}[1h]) / ignoring(type) rate(events{type="view"}[1h])"""),
      Some(
        "WITH c AS (SELECT CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) n FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3), " +
          "v AS (SELECT CAST(user_id AS VARCHAR) u, " +
          s"$hi hi, CAST(count(*) AS BIGINT) n FROM events WHERE event_type = 'view' GROUP BY 1, 2) " +
          "SELECT c.u AS \"user\", c.h, " +
          "round((CAST(c.n AS DOUBLE)/3600.0) / (CAST(v.n AS DOUBLE)/3600.0), 6) AS \"value\" " +
          "FROM c JOIN v ON v.u = c.u AND v.hi = c.hi ORDER BY 1, 2")),

    // ---- round 3: deriv/predict_linear, std moments, absent,
    // label_replace, count_values, group ------------------------------------

    Entry("q_pql_deriv",
      q("""deriv(events{type="click"}[4h])"""),
      Some(derivCte("click", 3) +
        "q AS (SELECT ty, u, h, n * stv - st * sv num, n * stt - st * st den " +
        "FROM w WHERE n >= 2) " +
        "SELECT ty AS \"type\", u AS \"user\", h, " +
        "round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS \"value\" " +
        "FROM q WHERE den <> 0 ORDER BY 1, 2, 3")),

    Entry("q_pql_predict",
      q("""predict_linear(events{type="error"}[24h], 14400)"""),
      Some(derivCte("error", 23) +
        "q AS (SELECT ty, u, h, hi, n, st, sv, " +
        "n * stv - st * sv num, n * stt - st * st den FROM w WHERE n >= 2) " +
        "SELECT ty AS \"type\", u AS \"user\", h, " +
        "round((CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) + " +
        "(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * " +
        "((CAST(hi + 1 AS DOUBLE) * 3600.0 + 14400.0) * 1000000.0 - " +
        "CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000.0, 6) AS \"value\" " +
        "FROM q WHERE den <> 0 ORDER BY 1, 2, 3")),

    Entry("q_pql_stddev_time",
      q("""stddev_over_time(events{type="view"}[6h])"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS HUGEINT) pn, " +
          "sum(CAST(round(value * 1000000, 0) AS HUGEINT)) ps1, " +
          "sum(CAST(round(value * 1000000, 0) AS HUGEINT) * CAST(round(value * 1000000, 0) AS HUGEINT)) ps2 " +
          "FROM events WHERE event_type = 'view' GROUP BY 1, 2, 3, 4), " +
          "w AS (SELECT ty, u, h, sum(pn) OVER wr n, sum(ps1) OVER wr s1, sum(ps2) OVER wr s2 " +
          "FROM s WINDOW wr AS (PARTITION BY ty, u ORDER BY hi RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)) " +
          "SELECT ty AS \"type\", u AS \"user\", h, " +
          "round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000000000.0), 6) AS \"value\" " +
          "FROM w ORDER BY 1, 2, 3")),

    Entry("q_pql_stdvar_by",
      q("""stdvar by (type) (events)"""),
      Some(
        "WITH r AS (SELECT event_type ty, user_id, date_trunc('hour', ts) h, value, " +
          "row_number() OVER (PARTITION BY event_type, user_id, date_trunc('hour', ts) " +
          "ORDER BY ts DESC, event_id DESC) rn FROM events), " +
          "l AS (SELECT ty, h, CAST(round(value * 1000000, 0) AS HUGEINT) v6 FROM r WHERE rn = 1), " +
          "m AS (SELECT ty, h, CAST(count(*) AS HUGEINT) n, sum(v6) s1, sum(v6 * v6) s2 FROM l GROUP BY 1, 2) " +
          "SELECT ty AS \"type\", h, " +
          "round(CAST(n * s2 - s1 * s1 AS DOUBLE) / " +
          "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000000000.0, 6) AS \"value\" " +
          "FROM m ORDER BY 1, 2")),

    Entry("q_pql_absent",
      q("""absent(events{type="purchase", user="7"})"""),
      Some(
        "WITH g AS (SELECT unnest(generate_series(0, 719)) hi), " +
          s"pres AS (SELECT DISTINCT $hi hi FROM events " +
          "WHERE event_type = 'purchase' AND CAST(user_id AS VARCHAR) = '7') " +
          "SELECT TIMESTAMP '2024-01-01' + g.hi * INTERVAL 1 HOUR h, " +
          "round(1.0, 6) AS \"value\" " +
          "FROM g ANTI JOIN pres ON pres.hi = g.hi ORDER BY h")),

    Entry("q_pql_label_replace",
      q("""label_replace(sum by (type) (rate(events[2h])), "family", "$1", "type", "(c.*|v.*)")"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2, 3, 4), " +
          "w AS (SELECT ty, h, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "g AS (SELECT ty, h, round(CAST(sum(wc) AS DOUBLE)/7200.0, 6) v FROM w GROUP BY 1, 2) " +
          "SELECT ty AS \"type\", regexp_extract(ty, '^(?:(c.*|v.*))$', 1) AS family, h, " +
          "v AS \"value\" FROM g ORDER BY 1, 2, 3")),

    Entry("q_pql_count_values",
      q("""count_values("lvl", round(events{type="click"} / 50))"""),
      Some(
        "WITH r AS (SELECT user_id, date_trunc('hour', ts) h, value, " +
          "row_number() OVER (PARTITION BY event_type, user_id, date_trunc('hour', ts) " +
          "ORDER BY ts DESC, event_id DESC) rn FROM events WHERE event_type = 'click'), " +
          "l AS (SELECT h, printf('%.6f', round(round(value / 50, 0), 6)) lvl FROM r WHERE rn = 1) " +
          "SELECT lvl, h, round(CAST(count(*) AS DOUBLE), 6) AS \"value\" " +
          "FROM l GROUP BY 1, 2 ORDER BY 1, 2")),

    Entry("q_pql_group",
      q("""group by (type) (events)"""),
      Some(
        "SELECT DISTINCT event_type AS \"type\", date_trunc('hour', ts) h, " +
          "round(1.0, 6) AS \"value\" FROM events ORDER BY 1, 2")),

    // ---- round 12: one-to-many vector matching + the @ modifier ------------

    // Per-(type,user) share of its type's total rate — the dashboard shape
    // that hits group_left immediately (VERDICT r11 missing #1): the many
    // side keeps its full (type, user) label set, the one side is unique
    // per (type, hour) by construction of its sum by (type).
    Entry("q_pql_group_left",
      q("""sum by (type, user) (rate(events[6h])) / on(type) group_left sum by (type) (rate(events[6h]))"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2, 3, 4), " +
          "w AS (SELECT ty, u, h, hi, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "g AS (SELECT ty, hi, CAST(sum(wc) AS BIGINT) tc FROM w GROUP BY 1, 2) " +
          "SELECT w.ty AS \"type\", w.u AS \"user\", w.h, " +
          "round((CAST(w.wc AS DOUBLE)/21600.0) / (CAST(g.tc AS DOUBLE)/21600.0), 6) AS \"value\" " +
          "FROM w JOIN g ON g.ty = w.ty AND g.hi = w.hi ORDER BY 1, 2, 3")),

    // The mirrored modifier: many side on the RIGHT — each user's rate
    // inverted against its type total (how many user-rates fit in the
    // type's total at that hour).
    Entry("q_pql_group_right",
      q("""sum by (type) (rate(events[6h])) / on(type) group_right sum by (type, user) (rate(events[6h]))"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2, 3, 4), " +
          "w AS (SELECT ty, u, h, hi, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "g AS (SELECT ty, hi, CAST(sum(wc) AS BIGINT) tc FROM w GROUP BY 1, 2) " +
          "SELECT w.ty AS \"type\", w.u AS \"user\", w.h, " +
          "round((CAST(g.tc AS DOUBLE)/21600.0) / (CAST(w.wc AS DOUBLE)/21600.0), 6) AS \"value\" " +
          "FROM w JOIN g ON g.ty = w.ty AND g.hi = w.hi ORDER BY 1, 2, 3")),

    // @ modifier: each type's current 2h rate normalized by its day-1
    // 24h event count — the pinned expression evaluates once at the grid
    // hour holding unix 1704153600 (2024-01-02 00:00) and re-emits as a
    // constant across every step, per upstream range-query semantics.
    Entry("q_pql_at_pin",
      q("""sum by (type) (rate(events[2h])) / on(type) sum by (type) (increase(events[24h] @ 1704153600))"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2, 3, 4), " +
          "w2 AS (SELECT ty, h, hi, CAST(sum(wc) AS BIGINT) c2 FROM (" +
          "SELECT ty, h, hi, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s) GROUP BY 1, 2, 3), " +
          "w24 AS (SELECT ty, hi, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "ref AS (SELECT ty, CAST(sum(wc) AS BIGINT) rc FROM w24 WHERE hi = 24 GROUP BY 1) " +
          "SELECT w2.ty AS \"type\", w2.h, " +
          "round((CAST(w2.c2 AS DOUBLE)/7200.0) / CAST(ref.rc AS DOUBLE), 6) AS \"value\" " +
          "FROM w2 JOIN ref ON ref.ty = w2.ty ORDER BY 1, 2")),

    // Vector-vector comparison with one-to-many matching — the
    // threshold-table alert shape: users contributing more than 10% of
    // their type's rate at that hour. The filtered result carries the
    // lhs (many) series and its value, per upstream.
    Entry("q_pql_threshold_match",
      // NB: no parens after group_left — '(' there parses as the include
      // list (upstream grammar); * binds tighter than > so none are needed
      q("""sum by (type, user) (rate(events[6h])) > on(type) group_left sum by (type) (rate(events[6h])) * 0.1"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2, 3, 4), " +
          "w AS (SELECT ty, u, h, hi, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "g AS (SELECT ty, hi, CAST(sum(wc) AS BIGINT) tc FROM w GROUP BY 1, 2) " +
          "SELECT w.ty AS \"type\", w.u AS \"user\", w.h, " +
          "round(CAST(w.wc AS DOUBLE)/21600.0, 6) AS \"value\" " +
          "FROM w JOIN g ON g.ty = w.ty AND g.hi = w.hi " +
          "WHERE CAST(w.wc AS DOUBLE)/21600.0 > CAST(g.tc AS DOUBLE)/(21600.0/0.1) " +
          "ORDER BY 1, 2, 3")),

    // absent_over_time: the windowed alert-on-silence — grid hours whose
    // trailing 6 h window saw no purchase from user 7.
    Entry("q_pql_absent_window",
      q("""absent_over_time(events{type="purchase", user="7"}[6h])"""),
      Some(
        "WITH g AS (SELECT unnest(generate_series(0, 719)) hi), " +
          s"p0 AS (SELECT DISTINCT $hi hi0 FROM events " +
          "WHERE event_type = 'purchase' AND CAST(user_id AS VARCHAR) = '7'), " +
          "pres AS (SELECT DISTINCT unnest(generate_series(hi0, least(hi0 + 5, 719))) hi FROM p0) " +
          "SELECT TIMESTAMP '2024-01-01' + g.hi * INTERVAL 1 HOUR h, " +
          "round(1.0, 6) AS \"value\" " +
          "FROM g ANTI JOIN pres ON pres.hi = g.hi ORDER BY h")),

    // label_join: composite series keys from existing labels.
    Entry("q_pql_label_join",
      q("""label_join(sum by (type, user) (increase(events[3h])), "series", "-", "type", "user")"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2, 3, 4), " +
          "w AS (SELECT ty, u, h, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s) " +
          "SELECT ty AS \"type\", u AS \"user\", ty || '-' || u AS series, h, " +
          "round(CAST(wc AS DOUBLE), 6) AS \"value\" FROM w ORDER BY 1, 2, 4")),

    // quantile AGGREGATOR: the cross-series percentile per (type, hour)
    // — which user sits at the p90 of each type's instant values.
    Entry("q_pql_quantile_agg",
      q("""quantile by (type) (0.9, events)"""),
      Some(
        "WITH r AS (SELECT event_type ty, date_trunc('hour', ts) h, value, " +
          "row_number() OVER (PARTITION BY event_type, user_id, date_trunc('hour', ts) " +
          "ORDER BY ts DESC, event_id DESC) rn FROM events), " +
          "l AS (SELECT ty, h, value FROM r WHERE rn = 1) " +
          "SELECT ty AS \"type\", h, round(quantile_cont(value, 0.9), 4) AS \"value\" " +
          "FROM l GROUP BY 1, 2 ORDER BY 1, 2")),

    // present_over_time: the windowed presence marker — 1.0 at every grid
    // hour whose trailing 12 h window holds a sample of the series, labels
    // kept (the exact dual of absent_over_time; ADVICE r12 made the [Nh]
    // argument real via the same presence expansion).
    Entry("q_pql_present",
      q("""present_over_time(events{type="error"}[12h])"""),
      Some(
        "WITH p0 AS (SELECT DISTINCT event_type ty, CAST(user_id AS VARCHAR) u, " +
          s"$hi hi0 FROM events WHERE event_type = 'error'), " +
          "pres AS (SELECT DISTINCT ty, u, unnest(generate_series(hi0, least(hi0 + 11, 719))) hi FROM p0) " +
          "SELECT ty AS \"type\", u AS \"user\", " +
          "TIMESTAMP '2024-01-01' + hi * INTERVAL 1 HOUR h, round(1.0, 6) AS \"value\" " +
          "FROM pres ORDER BY 1, 2, 3")),

    // sgn over a centered rate: the -1/0/+1 watermark indicator.
    Entry("q_pql_sgn",
      q("""sgn(sum by (type) (rate(events[1h])) - 0.0003)"""),
      Some(
        "WITH c AS (SELECT event_type ty, date_trunc('hour', ts) h, " +
          "CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2) " +
          "SELECT ty AS \"type\", h, " +
          "round(CASE WHEN CAST(n AS DOUBLE)/3600.0 - 0.0003 > 0 THEN 1.0 " +
          "WHEN CAST(n AS DOUBLE)/3600.0 - 0.0003 < 0 THEN -1.0 ELSE 0.0 END, 6) AS \"value\" " +
          "FROM c ORDER BY 1, 2")),

    // ---- round 13: sort, time()/vector()/scalar()/timestamp(), calendar
    // extractors, holt_winters, quantile without, or-vector(0) fill --------

    // sort_desc: presentation order by value — top offenders first, the
    // dashboard default for instant tables.
    Entry("q_pql_sort",
      q("""sort_desc(sum by (type) (increase(events[24h])))"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2, 3, 4), " +
          "w AS (SELECT ty, h, hi, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "g AS (SELECT ty, h, CAST(sum(wc) AS BIGINT) v FROM w GROUP BY 1, 2) " +
          "SELECT ty AS \"type\", h, round(CAST(v AS DOUBLE), 6) AS \"value\" " +
          "FROM g ORDER BY \"value\" DESC, ty, h")),

    // time() arithmetic: seconds-of-day / 3600 = the hour-of-day ramp on
    // the eval grid (origin is midnight, so the value is exactly hi % 24).
    Entry("q_pql_time_arith",
      q("""time() % 86400 / 3600"""),
      Some(
        "SELECT TIMESTAMP '2024-01-01' + hi * INTERVAL 1 HOUR h, " +
          "round(CAST(hi % 24 AS DOUBLE), 6) AS \"value\" " +
          "FROM (SELECT unnest(generate_series(0, 719)) hi) ORDER BY h")),

    // timestamp() composed with hour(): the hour-of-day of each series'
    // last sample — both value-as-timestamp functions in one expression.
    Entry("q_pql_timestamp_hour",
      q("""hour(timestamp(events{type="purchase"}))"""),
      Some(
        "WITH r AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, ts, " +
          "row_number() OVER (PARTITION BY event_type, user_id, date_trunc('hour', ts) " +
          "ORDER BY ts DESC, event_id DESC) rn FROM events WHERE event_type = 'purchase') " +
          "SELECT ty AS \"type\", u AS \"user\", h, " +
          "round(CAST(hour(ts) AS DOUBLE), 6) AS \"value\" FROM r WHERE rn = 1 ORDER BY 1, 2, 3")),

    // calendar extractors (zero-arg forms default to time()): one packed
    // integer per grid hour — year·1e8 + month·1e6 + dom·1e4 + hour·1e2 +
    // day_of_week (0-based Sunday, PromQL convention = DuckDB dayofweek).
    Entry("q_pql_calendar",
      q("""year() * 100000000 + month() * 1000000 + day_of_month() * 10000 + hour() * 100 + day_of_week()"""),
      Some(
        "SELECT h, round(CAST(year(h) * 100000000 + month(h) * 1000000 + " +
          "day(h) * 10000 + hour(h) * 100 + dayofweek(h) AS DOUBLE), 6) AS \"value\" " +
          "FROM (SELECT TIMESTAMP '2024-01-01' + hi * INTERVAL 1 HOUR h " +
          "FROM (SELECT unnest(generate_series(0, 719)) hi)) ORDER BY h")),

    // scalar(): the grand-total denominator — each type's share of the
    // all-series rate at that hour (scalar output joins back via on()).
    Entry("q_pql_scalar_share",
      q("""sum by (type) (rate(events[1h])) / on() group_left scalar(sum(rate(events[1h])))"""),
      Some(
        "WITH c AS (SELECT event_type ty, date_trunc('hour', ts) h, " +
          "CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2), " +
          "t AS (SELECT h, CAST(sum(n) AS BIGINT) tot FROM c GROUP BY 1) " +
          "SELECT c.ty AS \"type\", c.h, " +
          "round((CAST(c.n AS DOUBLE)/3600.0) / (CAST(t.tot AS DOUBLE)/3600.0), 6) AS \"value\" " +
          "FROM c JOIN t ON t.h = c.h ORDER BY 1, 2")),

    // holt_winters: double-exponential smoothing of the trailing window's
    // raw samples, upstream recurrence — the oracle's recursive CTE
    // replays the identical IEEE sequence (the q_ts_holt device; NOT
    // list_reduce, whose struct accumulator aliases in DuckDB 1.0.0).
    Entry("q_pql_holt",
      q("""holt_winters(events{type="click"}[6h], 0.5, 0.3)"""),
      Some(
        "WITH RECURSIVE s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, ts, event_id sid, value, " +
          s"$hi hi0 FROM events WHERE event_type = 'click'), " +
          "e AS (SELECT ty, u, ts, sid, value, hi0, unnest(range(hi0, hi0 + 6)) tick FROM s), " +
          "w AS (SELECT ty, u, tick, value, " +
          "row_number() OVER (PARTITION BY ty, u, tick ORDER BY ts, sid) i, " +
          "count(*) OVER (PARTITION BY ty, u, tick) n, " +
          "max(CASE WHEN tick = hi0 THEN 1 ELSE 0 END) OVER (PARTITION BY ty, u, tick) own FROM e), " +
          "rec AS (" +
          "SELECT w2.ty, w2.u, w2.tick, w2.i, w2.n, " +
          "0.5 * w2.value + (1.0 - 0.5) * (w1.value + (w2.value - w1.value)) AS l, " +
          "0.3 * ((0.5 * w2.value + (1.0 - 0.5) * (w1.value + (w2.value - w1.value))) - w1.value) + " +
          "(1.0 - 0.3) * (w2.value - w1.value) AS b " +
          "FROM w w2 JOIN w w1 ON w1.ty = w2.ty AND w1.u = w2.u AND w1.tick = w2.tick AND w1.i = 1 " +
          "WHERE w2.i = 2 AND w2.n >= 2 AND w2.own = 1 " +
          "UNION ALL " +
          "SELECT q.ty, q.u, q.tick, q.i, q.n, " +
          "0.5 * q.value + (1.0 - 0.5) * (r.l + r.b) AS l, " +
          "0.3 * ((0.5 * q.value + (1.0 - 0.5) * (r.l + r.b)) - r.l) + (1.0 - 0.3) * r.b AS b " +
          "FROM rec r JOIN w q ON q.ty = r.ty AND q.u = r.u AND q.tick = r.tick AND q.i = r.i + 1) " +
          "SELECT ty AS \"type\", u AS \"user\", " +
          "TIMESTAMP '2024-01-01' + tick * INTERVAL 1 HOUR h, round(l, 6) AS \"value\" " +
          "FROM rec WHERE i = n ORDER BY 1, 2, 3")),

    // quantile WITHOUT (the ADVICE r12 fix): the cross-series median per
    // (type, hour) spelled via label complement instead of by().
    Entry("q_pql_quantile_without",
      q("""quantile without (user) (0.5, events)"""),
      Some(
        "WITH r AS (SELECT event_type ty, date_trunc('hour', ts) h, value, " +
          "row_number() OVER (PARTITION BY event_type, user_id, date_trunc('hour', ts) " +
          "ORDER BY ts DESC, event_id DESC) rn FROM events), " +
          "l AS (SELECT ty, h, value FROM r WHERE rn = 1) " +
          "SELECT ty AS \"type\", h, round(quantile_cont(value, 0.5), 4) AS \"value\" " +
          "FROM l GROUP BY 1, 2 ORDER BY 1, 2")),

    // libm family over one shared (memoized) panel: ln + sqrt + log2 of
    // the same 24h increase — three instant functions, one panel subtree.
    Entry("q_pql_math",
      q("""ln(sum by (type) (increase(events[24h]))) + sqrt(sum by (type) (increase(events[24h]))) + log2(sum by (type) (increase(events[24h])))"""),
      Some(
        "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2, 3, 4), " +
          "w AS (SELECT ty, h, hi, CAST(sum(c) OVER (PARTITION BY ty, u ORDER BY hi " +
          "RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) wc FROM s), " +
          "g AS (SELECT ty, h, hi, CAST(sum(wc) AS DOUBLE) v FROM w GROUP BY 1, 2, 3) " +
          "SELECT ty AS \"type\", h, round(ln(v) + sqrt(v) + log2(v), 6) AS \"value\" " +
          "FROM g ORDER BY 1, 2")),

    // `or on() vector(0)`: the canonical gap-fill idiom — the purchase
    // rate where it exists, an explicit 0 at every silent grid hour.
    Entry("q_pql_vector_fill",
      q("""sum(rate(events{type="purchase"}[1h])) or on() vector(0)"""),
      Some(
        "WITH c AS (SELECT date_trunc('hour', ts) h, " +
          s"$hi hi, CAST(count(*) AS BIGINT) n FROM events " +
          "WHERE event_type = 'purchase' GROUP BY 1, 2), " +
          "g AS (SELECT unnest(generate_series(0, 719)) hi) " +
          "SELECT TIMESTAMP '2024-01-01' + g.hi * INTERVAL 1 HOUR h, " +
          "round(coalesce(CAST(c.n AS DOUBLE)/3600.0, 0.0), 6) AS \"value\" " +
          "FROM g LEFT JOIN c ON c.hi = g.hi ORDER BY h")))

  /** Shared oracle CTE for the regression pair: exact HUGEINT moments of
    * (t µs since origin, µ-value) per (series, hour), window-summed —
    * the DuckDB twin of the compiler's decimal(38,0) device. */
  private def derivCte(ty: String, prec: Int): String =
    "WITH s AS (SELECT event_type ty, CAST(user_id AS VARCHAR) u, date_trunc('hour', ts) h, " +
      s"$hi hi, CAST(count(*) AS HUGEINT) pn, " +
      "sum(CAST(epoch_us(ts) - 1704067200000000 AS HUGEINT)) pst, " +
      "sum(CAST(round(value * 1000000, 0) AS HUGEINT)) psv, " +
      "sum(CAST(epoch_us(ts) - 1704067200000000 AS HUGEINT) * CAST(round(value * 1000000, 0) AS HUGEINT)) pstv, " +
      "sum(CAST(epoch_us(ts) - 1704067200000000 AS HUGEINT) * CAST(epoch_us(ts) - 1704067200000000 AS HUGEINT)) pstt " +
      s"FROM events WHERE event_type = '$ty' GROUP BY 1, 2, 3, 4), " +
      "w AS (SELECT ty, u, h, hi, sum(pn) OVER wr n, sum(pst) OVER wr st, sum(psv) OVER wr sv, " +
      "sum(pstv) OVER wr stv, sum(pstt) OVER wr stt " +
      s"FROM s WINDOW wr AS (PARTITION BY ty, u ORDER BY hi RANGE BETWEEN $prec PRECEDING AND CURRENT ROW)), "
}
