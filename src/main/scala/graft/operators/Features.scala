package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-engineering and data-quality tier — the queries an ML platform
  * runs BETWEEN the warehouse and the trainer: leakage-free point-in-time
  * feature backfill, the data-quality audit that gates an ingest batch,
  * and exact sliding-window distinct counts (the "active users, trailing
  * 24 h" panel that additive window sums cannot express).
  */
object Features {
  /** Point-in-time (PIT) correct feature backfill: for every (user,
    * active day) training row, features computed STRICTLY before that
    * day's midnight — trailing-7-day event count and value sum, the last
    * observed value, and days since last activity. "Strictly before" is
    * the leakage contract: the RANGE frame ends at 1 PRECEDING, so the
    * label day's own events can never reach its features.
    *
    * ONE (user, day) hash aggregate compresses the scan; both the
    * trailing-range frame and the lag ride the same user-keyed window
    * shuffle over the ≤days-per-user series (RANGE over the integer day
    * index handles absent days correctly where a ROWS frame would not).
    * The trailing sum adds ≤7 pre-rounded day sums and re-rounds at 4, so
    * frame-evaluation order can't leak into the hash gate. */
  val qFeatPit: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("dday"))
      .agg(count(lit(1)).as("n"), Num.roundd(sum("value"), 6).as("sv"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("day_last"))
      .withColumn("di", datediff(col("dday"), lit("2024-01-01").cast("date")).cast("long"))
    val f = Window.partitionBy("user_id").orderBy("di").rangeBetween(-7, -1)
    val u = Window.partitionBy("user_id").orderBy("di")
    daily.select(col("user_id"), col("dday"),
        coalesce(sum("n").over(f), lit(0L)).as("cnt7"),
        Num.roundd(coalesce(sum("sv").over(f), lit(0.0)), 4).as("sum7"),
        lag("day_last", 1).over(u).as("last_v"),
        (col("di") - lag("di", 1).over(u)).as("days_since"))
      .orderBy("user_id", "dday")
  }

  /** Data-quality audit: the six-check report an ingest gate evaluates
    * before admitting a batch — referential orphans (anti join), primary
    * key duplication, null required fields, domain-range violations on
    * dates and values, and empty payloads. Every check is one exact-count
    * aggregate over one scan; the union is of 1-row results. (The
    * lineitem PK check is KNOWN non-zero on this synthetic data —
    * SURVEY §2.0.1 — which is exactly why an audit operator earns its
    * keep.) */
  val qDqAudit: Q = (s, d) => {
    def chk(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("chk"), col("n"))
    val orders = Tables.orders(s, d)
    val dupPk = Tables.lineitem(s, d)
      .groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
    chk("orders_orphan_custkey",
        orders.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "left_anti"))
      .unionByName(chk("lineitem_dup_pk", dupPk))
      .unionByName(chk("customer_null_name", Tables.customer(s, d).filter(col("c_name").isNull)))
      .unionByName(chk("orders_date_range", orders.filter(
        col("o_orderdate") < lit("1992-01-01").cast("date") ||
          col("o_orderdate") > lit("1998-12-31").cast("date"))))
      .unionByName(chk("events_value_range", Tables.events(s, d).filter(
        col("value") < 0 || col("value") > 1000)))
      .unionByName(chk("documents_empty_text", Tables.documents(s, d).filter(
        col("text").isNull || length(col("text")) === 0)))
      .orderBy("chk")
  }

  /** EXACT distinct users per trailing-24 h window, per hour — the panel
    * a sliding SUM cannot fake (distinct doesn't decompose over window
    * frames). The expansion trick keeps it linear: presence is
    * pre-distinct (user, hour) — bounded at users×hours regardless of
    * event volume — and each presence row fans out to the ≤24 windows it
    * serves, re-distincts on (window, user), and counts. Shuffle volume
    * is 24× the PRESENCE set, never the raw scan; the approximate path
    * at extreme cardinality is the KMV/HLL sketch tier over the same
    * expansion. */
  val qTsSlidingDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .distinct()
      .withColumn("w", explode(expr("sequence(h, h + INTERVAL '23' HOUR, INTERVAL '1' HOUR)")))
      .filter(col("w") <= lit("2024-01-30 23:00:00").cast("timestamp_ntz"))
      .select("user_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("n_users"))
      .orderBy("w")

  /** Leave-one-out target encoding of a categorical feature: each row's
    * category is replaced by the mean target value of all OTHER rows in
    * that category — the classic high-cardinality encoder, with the LOO
    * correction (enc = (Σ_cat − own) / (n_cat − 1)) that stops a row's own
    * label leaking into its feature. One hash aggregate builds the
    * per-category moments (categories ≤ vocabulary ⇒ the join side
    * BROADCASTS); the encode itself is a pure map-side row function, so
    * the plan is scan + broadcast-join at any corpus size. Determinism:
    * the category sum is pre-rounded at 6 (the pre-rounded-sum contract),
    * own-value subtraction then runs on identical doubles both engines. */
  val qFeatTargetEncode: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val g = ev.groupBy("event_type")
      .agg(Num.roundd(sum("value"), 6).as("sv"), count(lit(1)).as("n"))
      // singleton categories out: LOO is undefined at n=1 and the engines
      // disagree on double x/0 (Spark NULL, DuckDB ±inf) — define the
      // edge away rather than lean on divide behavior
      .filter(col("n") > 1)
    ev.join(broadcast(g), "event_type")
      .withColumn("enc", Num.roundd((col("sv") - col("value")) / (col("n") - 1).cast("double"), 6))
      .select("event_id", "event_type", "value", "enc")
      .orderBy("event_id")
  }

  // ---- SCD2 dimension build -----------------------------------------------

  /** Slowly-changing-dimension (type 2) build: each user's event_type
    * treated as their current status, collapsed into validity intervals
    * [valid_from, valid_to) with an is_current flag — the warehouse
    * staple that turns an event log into a point-in-time joinable
    * dimension (the as-of tier then serves "status as of T" lookups
    * against exactly this shape).
    *
    * Gaps-and-islands inside the user shuffle: change flag → run id →
    * per-run min(ts), then `lead` hands each run the next run's start as
    * its exclusive end. Every window rides the ONE user-keyed sort the
    * sessionizer already pays; the (ts, event_id) order key is total so
    * runs are engine-deterministic. */
  val qScd2Build: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("status"))
      .withColumn("chg",
        when(lag("status", 1).over(w).isNull || lag("status", 1).over(w) =!= col("status"), 1L)
          .otherwise(0L))
      .withColumn("grp", sum("chg").over(w))
      .groupBy("user_id", "grp", "status")
      .agg(min("ts").as("valid_from"))
    val wg = Window.partitionBy("user_id").orderBy("valid_from", "grp")
    runs
      .withColumn("valid_to", lead("valid_from", 1).over(wg))
      .withColumn("is_current", col("valid_to").isNull.cast("long"))
      .select("user_id", "status", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from")
  }

  // ---- catalog ------------------------------------------------------------

  val all: Seq[Entry] = Seq(
    Entry("q_scd2_build", qScd2Build, Some(
      "WITH m AS (SELECT user_id, ts, event_id, event_type status, " +
        "CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type " +
        "THEN 1 ELSE 0 END chg " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT user_id, ts, status, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) grp FROM m), " +
        "runs AS (SELECT user_id, grp, status, min(ts) valid_from FROM g GROUP BY 1, 2, 3), " +
        "x AS (SELECT user_id, status, valid_from, " +
        "lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, grp) valid_to FROM runs) " +
        "SELECT user_id, status, valid_from, valid_to, " +
        "CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) is_current " +
        "FROM x ORDER BY user_id, valid_from")),
    Entry("q_feat_pit", qFeatPit, Some(
      "WITH dr AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) dday, value, " +
        "row_number() OVER (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts DESC, event_id DESC) rn FROM events), " +
        "dl AS (SELECT user_id, dday, value day_last FROM dr WHERE rn = 1), " +
        "dagg AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) dday, " +
        "CAST(count(*) AS BIGINT) n, round(sum(value), 6) sv FROM events GROUP BY 1, 2), " +
        "daily AS (SELECT dagg.user_id, dagg.dday, dagg.n, dagg.sv, dl.day_last FROM dagg " +
        "JOIN dl ON dl.user_id = dagg.user_id AND dl.dday = dagg.dday), " +
        "di AS (SELECT user_id, dday, n, sv, day_last, " +
        "CAST(dday - DATE '2024-01-01' AS BIGINT) d FROM daily), " +
        "w AS (SELECT user_id, dday, " +
        "CAST(coalesce(sum(n) OVER f, 0) AS BIGINT) cnt7, " +
        "round(coalesce(sum(sv) OVER f, 0.0), 4) sum7, " +
        "lag(day_last) OVER u last_v, " +
        "d - lag(d) OVER u days_since " +
        "FROM di WINDOW f AS (PARTITION BY user_id ORDER BY d RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), " +
        "u AS (PARTITION BY user_id ORDER BY d)) " +
        "SELECT user_id, dday, cnt7, sum7, last_v, CAST(days_since AS BIGINT) days_since " +
        "FROM w ORDER BY user_id, dday")),
    Entry("q_dq_audit", qDqAudit, Some(
      "SELECT * FROM (" +
        "SELECT 'orders_orphan_custkey' chk, CAST(count(*) AS BIGINT) n FROM orders " +
        "WHERE o_custkey NOT IN (SELECT c_custkey FROM customer) " +
        "UNION ALL " +
        "SELECT 'lineitem_dup_pk', CAST(count(*) AS BIGINT) FROM " +
        "(SELECT l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 HAVING count(*) > 1) " +
        "UNION ALL " +
        "SELECT 'customer_null_name', CAST(count(*) AS BIGINT) FROM customer WHERE c_name IS NULL " +
        "UNION ALL " +
        "SELECT 'orders_date_range', CAST(count(*) AS BIGINT) FROM orders " +
        "WHERE o_orderdate < DATE '1992-01-01' OR o_orderdate > DATE '1998-12-31' " +
        "UNION ALL " +
        "SELECT 'events_value_range', CAST(count(*) AS BIGINT) FROM events " +
        "WHERE value < 0 OR value > 1000 " +
        "UNION ALL " +
        "SELECT 'documents_empty_text', CAST(count(*) AS BIGINT) FROM documents " +
        "WHERE text IS NULL OR length(text) = 0" +
        ") ORDER BY chk")),
    Entry("q_ts_sliding_distinct", qTsSlidingDistinct, Some(
      "WITH pres AS (SELECT DISTINCT user_id, date_trunc('hour', ts) h FROM events), " +
        "ex AS (SELECT DISTINCT user_id, h + i * INTERVAL 1 HOUR w " +
        "FROM pres CROSS JOIN (SELECT unnest(range(0, 24)) i) " +
        "WHERE h + i * INTERVAL 1 HOUR <= TIMESTAMP '2024-01-30 23:00:00') " +
        "SELECT w, CAST(count(*) AS BIGINT) n_users FROM ex GROUP BY 1 ORDER BY 1")),
    Entry("q_feat_target_encode", qFeatTargetEncode, Some(
      "WITH g AS (SELECT event_type, round(sum(value), 6) sv, CAST(count(*) AS BIGINT) n " +
        "FROM events GROUP BY 1 HAVING count(*) > 1) " +
        "SELECT e.event_id, e.event_type, e.value, " +
        "round((g.sv - e.value) / CAST(g.n - 1 AS DOUBLE), 6) enc " +
        "FROM events e JOIN g ON g.event_type = e.event_type ORDER BY e.event_id")),
  )
}
