package graft.operators

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operational-metrics tier over the event stream — the queries a TSDB's
  * own operators (not its users) run against it: series-churn and
  * cardinality reports (index-bloat monitoring), SLO burn-rate alerting
  * (the multiwindow error-budget rule), and coverage/availability
  * reporting from observed sample density.
  *
  * All four follow the repo determinism contract (SURVEY §2.0): counts
  * are exact longs, ratios divide exact integer sums as doubles and round
  * through [[Num.roundd]], every query ends in a total ORDER BY.
  *
  * Scale theme: each query is one or two hash aggregates over the scan;
  * the only window functions run over POST-aggregate series (≤ hours/days
  * of the retention window, thousands of rows at any raw-data scale), so
  * the unpartitioned window never sees raw events.
  */
object Ops {
  type Q = (SparkSession, String) => DataFrame

  // ---- series churn: first-seen analysis ----------------------------------

  /** New-series-per-day report: how many user series appear for the first
    * time each day, plus the running total — the cardinality-churn curve
    * that tells a TSDB operator whether index growth is new series or
    * re-writes. First-seen is `min(ts)` per series (one hash agg over the
    * scan), the daily roll-up is a second agg over one row per series, and
    * the cumulative sum is a window over the ~retention-days result. */
  val qTsNewSeries: Q = (s, d) => {
    val perDay = Tables.events(s, d)
      .groupBy("user_id").agg(min("ts").as("fts"))
      .select(date_trunc("day", col("fts")).cast("date").as("d"))
      .groupBy("d").agg(count(lit(1)).as("new_users"))
    perDay
      .withColumn("cum_users", sum("new_users").over(Window.orderBy("d")))
      .orderBy("d")
  }

  // ---- cardinality report --------------------------------------------------

  /** Per-day series-cardinality report by metric: distinct series
    * (user_id) per (day, event_type), the day's distinct series across all
    * types, and each type's share of it. Shares don't sum to 1 — a series
    * active in several metrics counts once in the day total — which is
    * exactly what makes the report useful for index sizing.
    *
    * Plan: pre-distinct (day, type, user) once — ONE shuffle keyed on the
    * triple with partial (map-side) distinct — then both roll-ups are
    * cheap aggs over the deduplicated set; the day total re-joins on the
    * ≤retention-days key. At 100 TB the pre-distinct set is the thing you
    * maintain incrementally at ingest (it is itself a KMV/HLL candidate —
    * the sketch tier serves the same report approximately). */
  val qTsCardinality: Q = (s, d) => {
    val base = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).cast("date").as("d"), col("event_type"), col("user_id"))
      .distinct()
    val perType = base.groupBy("d", "event_type").agg(count(lit(1)).as("n_series"))
    val perDay = base.select("d", "user_id").distinct()
      .groupBy("d").agg(count(lit(1)).as("day_series"))
    perType.join(perDay, "d")
      .select(col("d"), col("event_type"), col("n_series"), col("day_series"),
        Num.roundd(col("n_series").cast("double") / col("day_series"), 6).as("frac"))
      .orderBy("d", "event_type")
  }

  // ---- SLO burn rate -------------------------------------------------------

  /** Multiwindow error-budget burn rate (the SRE alerting rule): hourly
    * error ratio and its 6-hour trailing form, each divided by a 25%
    * error-budget SLO, alerting only when BOTH windows burn faster than
    * budget — the fast window gives reaction time, the slow window
    * suppresses blips. The trailing ratio divides summed counters (ratio
    * of sums, not mean of ratios) so empty-ish hours don't distort it.
    *
    * Plan: one conditional-count hash agg over the scan builds the hourly
    * series; both windows are frames over the ≤retention-hours result.
    * Alerting compares the ROUNDED burn rates, so the flag is
    * reproducible across engines by the same rounding contract as the
    * values it derives from. */
  val qTsBurnRate: Q = (s, d) => {
    val budget = 0.25
    val hourly = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("h"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
      .groupBy("h").agg(sum("e").as("err"), count(lit(1)).as("tot"))
    val w6 = Window.orderBy("h").rowsBetween(-5, Window.currentRow)
    hourly
      .withColumn("err6", sum("err").over(w6))
      .withColumn("tot6", sum("tot").over(w6))
      .select(col("h"), col("err"), col("tot"),
        Num.roundd(col("err").cast("double") / col("tot") / budget, 4).as("burn1"),
        Num.roundd(col("err6").cast("double") / col("tot6") / budget, 4).as("burn6"))
      .withColumn("alert", (col("burn1") > 1.0 && col("burn6") > 1.0).cast("long"))
      .orderBy("h")
  }

  // ---- alert lifecycle transitions ----------------------------------------

  /** The fire/resolve state machine over an hourly series carrying
    * (event_type, h, mv, breach): an alert FIRES at the 3rd consecutive
    * breach hour (one fire per sustained episode, however long) and
    * RESOLVES at the first clean hour while firing — exactly the
    * transition stream a pager receives. Consecutive means adjacent
    * PRESENT hours (the threshold-cross / StatefulAlerts convention).
    * Islands machinery: breach onset → island id → within-island index,
    * all riding the per-type hourly series. */
  private[graft] def transitionsFrom(hourly: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("h")
    val a = hourly
      .withColumn("onset",
        when(col("breach") === 1 && coalesce(lag("breach", 1).over(w), lit(0)) === 0, 1)
          .otherwise(0))
      .withColumn("grp", sum("onset").over(w))
      .withColumn("st", when(col("breach") === 1,
        row_number().over(Window.partitionBy("event_type", "grp", "breach").orderBy("h")))
        .otherwise(0))
      .withColumn("pst", lag("st", 1).over(w))
    // r18: fire and resolve are DISJOINT predicates on the same row (breach
    // is 1 vs 0), so one filtered pass emits both kinds — the former
    // fires/resolves UNION re-evaluated the whole subtree per branch
    // (plans/r18/ts_alert_transitions_before: the corpus aggregate appears
    // 4×, the window chain 2×). Same row multiset; filter-then-otherwise
    // keeps `kind` non-nullable exactly like the union of literals did.
    a.filter((col("breach") === 1 && col("st") === 3) ||
        (col("breach") === 0 && coalesce(col("pst"), lit(0)) >= 3))
      .select(col("event_type"),
        when(col("breach") === 1, lit("fire")).otherwise(lit("resolve")).as("kind"),
        col("h"), col("mv"))
      .orderBy("event_type", "h", "kind")
  }

  /** Value-sum form with an absolute threshold — the batch twin of the
    * streaming for-machine ([[graft.streaming.StatefulFor]]), held equal
    * on sealed prefixes by the parity spec. */
  private[graft] def valueTransitions(s: SparkSession, d: String, threshold: Double): DataFrame =
    transitionsFrom(
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(Num.roundd(sum("value"), 2).as("mv"))
        .withColumn("breach", (col("mv") > threshold).cast("int")))

  /** Per-series alert LIFECYCLE (the transition log q_ts_alert_for's
    * interval report is derived from), in the self-normalizing
    * volume-spike form: an hour breaches when its event count runs more
    * than 1.1× the series' own average hourly rate — as a pure integer
    * comparison (10·n·hours > 11·total), so the breach flag is exact on
    * both engines with no float anywhere, and the rule stays meaningful
    * at every data density (an absolute threshold is empty at one scale
    * factor and saturated at another; the streaming face takes the
    * absolute form precisely because a stream cannot see its own
    * future mean).
    *
    * One aggregation shuffle for the hourly counts; the per-type totals
    * re-enter as a broadcast 5-row dim. */
  val qTsAlertTransitions: Q = (s, d) => {
    // r18: the hourly grid (≤ types×hours rows) feeds BOTH the per-type
    // totals and the join back — column pruning differentiates the two
    // exchanges so ReuseExchange can't fire and the corpus aggregate ran
    // twice (plans/r18/ts_alert_transitions_before). Checkpoint the grid:
    // one corpus-sized aggregate, both consumers read ≤3600 rows.
    val hourly = ArtifactStore.rotate("alert_transitions_hourly")(
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("mv")))
    val totals = hourly.groupBy("event_type")
      .agg(sum("mv").as("total"), count(lit(1)).as("hrs"))
    transitionsFrom(
      hourly.join(broadcast(totals), "event_type")
        .withColumn("breach",
          (lit(10L) * col("mv") * col("hrs") > lit(11L) * col("total")).cast("int"))
        .select("event_type", "h", "mv", "breach"))
  }

  // ---- availability / coverage --------------------------------------------

  /** Daily observation coverage: minutes of the day with at least one
    * sample, as a fraction of 1440 — the uptime/collection-coverage
    * report that distinguishes "metric was zero" from "collector was
    * down". Pre-distinct (day, minute) buckets (bounded at 1440/day
    * regardless of raw event volume), then count per day. */
  val qTsAvailability: Q = (s, d) =>
    Tables.events(s, d)
      .select(date_trunc("day", col("ts")).cast("date").as("d"),
        date_trunc("minute", col("ts")).as("m"))
      .distinct()
      .groupBy("d").agg(count(lit(1)).as("n_min"))
      .select(col("d"), col("n_min"),
        Num.roundd(col("n_min").cast("double") / 1440.0, 6).as("avail"))
      .orderBy("d")

  // ---- alert FOR-duration state machine -----------------------------------

  /** Prometheus `for:`-clause alerting: the hourly error ratio breaching
    * 0.22 raises a PENDING condition, and an alert FIRES only once the
    * breach has held for 3 consecutive hours — the standard guard against
    * paging on a single noisy sample. Emits each firing interval (start,
    * end, duration, peak ratio); sub-threshold-duration streaks are
    * exactly the pending alerts that resolved silently.
    *
    * Breach streaks are gaps-and-islands over the hourly series (streak
    * id = running count of breach onsets), the same device as
    * q_ts_session but over the POST-aggregate series, so the
    * unpartitioned windows see ≤ retention-hours rows. The breach flag
    * compares the ROUNDED ratio, keeping the state machine reproducible
    * across engines. */
  val qTsAlertFor: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(date_trunc("hour", col("ts")).as("h"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
      .groupBy("h").agg(sum("e").as("err"), count(lit(1)).as("tot"))
      .withColumn("r", Num.roundd(col("err").cast("double") / col("tot"), 4))
      .withColumn("breach", (col("r") > 0.22).cast("int"))
    val w = Window.orderBy("h")
    hourly
      .withColumn("onset",
        when(col("breach") === 1 && coalesce(lag("breach", 1).over(w), lit(0)) === 0, 1)
          .otherwise(0))
      .withColumn("grp", sum("onset").over(w))
      .filter(col("breach") === 1)
      .groupBy("grp")
      .agg(min("h").as("start_h"), max("h").as("end_h"),
        count(lit(1)).as("n_hours"), max("r").as("peak"))
      .filter(col("n_hours") >= 3)
      .select("start_h", "end_h", "n_hours", "peak")
      .orderBy("start_h")
  }

  /** Incident MTTR / MTBF report per series — the reliability KPIs an ops
    * review reads off the alert history: incidents = maximal runs of
    * breach hours (hourly count 25% above the series mean — the exact
    * cross-multiplied rule n·4·NH > 5·ΣN, scale-free like
    * q_ts_vector_and), MTTR = mean incident length, MTBF = mean gap
    * between incident onsets, plus the worst incident. Gaps-and-islands
    * over the POST-aggregate hourly series (grp = hi − row_number, the
    * q_ts_session device); every number derives from exact integer
    * counts, the two means divide identical ints on both engines. A
    * single-incident series has no gap sample — MTBF is NULL there by
    * definition, not zero. */
  val qTsMttr: Q = (s, d) => {
    val h = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', date_trunc('hour', ts))").as("hi"))
      .agg(count(lit(1)).as("n"))
    val t = h.groupBy("event_type")
      .agg(sum("n").as("tn"), count(lit(1)).as("nh"))
    val wrn = Window.partitionBy("event_type").orderBy("hi")
    val incidents = h.join(broadcast(t), "event_type")
      .filter(col("n") * 4 * col("nh") > col("tn") * 5)
      .withColumn("grp", col("hi") - row_number().over(wrn))
      .groupBy("event_type", "grp")
      .agg(min("hi").as("start_hi"), count(lit(1)).as("len"))
    val wlag = Window.partitionBy("event_type").orderBy("start_hi")
    incidents
      .withColumn("gap", col("start_hi") - lag("start_hi", 1).over(wlag))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_incidents"),
        Num.roundd(avg("len"), 4).as("mttr_h"),
        Num.roundd(avg("gap"), 4).as("mtbf_h"),
        max("len").as("longest_h"))
      .orderBy("event_type")
  }

  /** Hash-bucketed A/B test with a two-proportion z-score — the
    * experimentation readout: users deterministically split 50/50 by the
    * seeded md5 hash (the q_docs_split device — assignment is a pure
    * function of user_id, stable across reruns and machines), conversion
    * = did the user ever purchase, z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a+1/n_b)).
    * One (user) aggregate → one 2-row aggregate → a 1-row report; the
    * only doubles are the final formula over four exact integers —
    * identical operands both engines. */
  val qAbZtest: Q = (s, d) => {
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("variant", expr(s"pmod(${graft.operators.Dedup.h60("'ab'", "cast(user_id as string)")}, 2)"))
    val v = users.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum("conv").as("c"))
    v.agg(
        max(when(col("variant") === 0, col("n"))).as("n_a"),
        max(when(col("variant") === 0, col("c"))).as("conv_a"),
        max(when(col("variant") === 1, col("n"))).as("n_b"),
        max(when(col("variant") === 1, col("c"))).as("conv_b"))
      .withColumn("rate_a", Num.roundd(col("conv_a").cast("double") / col("n_a"), 6))
      .withColumn("rate_b", Num.roundd(col("conv_b").cast("double") / col("n_b"), 6))
      // degenerate pooled rates (p̂ = 0 or 1) are defined to z = NULL
      // explicitly: the engines disagree on double x/0 (Spark NULL,
      // DuckDB ±inf), so the edge never reaches the divide
      .withColumn("z", when(
        col("conv_a") + col("conv_b") > 0 && col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
        Num.roundd(
          (col("conv_a").cast("double") / col("n_a") - col("conv_b").cast("double") / col("n_b")) /
            sqrt((col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")) *
              (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4)))
  }

  /** CUPED variance-reduced experiment readout (Controlled-experiment
    * Using Pre-Experiment Data — Deng, Xu, Kohavi & Walker, WSDM 2013)
    * over the SAME hash-bucketed assignment as [[qAbZtest]]: the
    * treatment effect on post-period purchase counts (days 16–30),
    * adjusted by each user's PRE-period count (days 1–15) —
    *   Δ_cuped = (ȳ_a − ȳ_b) − θ·(x̄_a − x̄_b),  θ = cov(x,y)/var(x)
    * pooled across arms — with the variance-reduction factor ρ²(x,y)
    * the method is named for. Every moment (n, Σx, Σy, Σxy, Σxx, Σyy,
    * per arm and overall) is an exact long from ONE user-level
    * aggregate; θ rounds at 9 dp, the report divides rounded-identical
    * trees at 6 dp; zero pre-period variance guards θ/Δ_cuped/ρ² to
    * NULL. One hash aggregate at user width → a 2-row arm rollup → a
    * 1-row report: nothing scales past the user count. */
  val qAbCuped: Q = (s, d) => {
    val cut = "TIMESTAMP_NTZ '2024-01-16 00:00:00'"
    val isP = col("event_type") === "purchase"
    val users = Tables.events(s, d)
      .groupBy("user_id")
      .agg(sum(when(isP && col("ts") < expr(cut), 1L).otherwise(0L)).as("x"),
        sum(when(isP && col("ts") >= expr(cut), 1L).otherwise(0L)).as("y"))
      .withColumn("variant",
        expr(s"pmod(${graft.operators.Dedup.h60("'ab'", "cast(user_id as string)")}, 2)"))
    val m = users.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val arms = users.groupBy("variant")
      .agg(count(lit(1)).as("an"), sum("x").as("ax"), sum("y").as("ay"))
      .agg(max(when(col("variant") === 0, col("an"))).as("n_a"),
        max(when(col("variant") === 0, col("ax"))).as("x_a"),
        max(when(col("variant") === 0, col("ay"))).as("y_a"),
        max(when(col("variant") === 1, col("an"))).as("n_b"),
        max(when(col("variant") === 1, col("ax"))).as("x_b"),
        max(when(col("variant") === 1, col("ay"))).as("y_b"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varX = col("n") * col("sxx") - col("sx") * col("sx")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    arms.crossJoin(broadcast(m))
      .withColumn("theta", when(varX =!= 0L,
        Num.roundd(covN.cast("double") / varX.cast("double"), 9)))
      .withColumn("diff_raw", Num.roundd(
        col("y_a").cast("double") / col("n_a") - col("y_b").cast("double") / col("n_b"), 6))
      .withColumn("diff_cuped", when(col("theta").isNotNull, Num.roundd(
        (col("y_a").cast("double") / col("n_a") - col("y_b").cast("double") / col("n_b")) -
          col("theta") * (col("x_a").cast("double") / col("n_a") - col("x_b").cast("double") / col("n_b")), 6)))
      .withColumn("var_reduction", when(varX =!= 0L && varY =!= 0L, Num.roundd(
        covN.cast("double") * covN.cast("double") /
          (varX.cast("double") * varY.cast("double")), 6)))
      .select("n_a", "n_b", "diff_raw", "theta", "diff_cuped", "var_reduction")
  }

  /** Time-to-convert distribution: seconds from each user's FIRST view to
    * the first purchase AFTER it, reported per first-view day with exact
    * interpolated p50/p90 (the q_docs_length_dist percentile device) —
    * the conversion-latency panel next to the funnel. Two keyed
    * aggregates + one user-keyed join (the purchase side never expands:
    * min-after-join collapses it in the same shuffle); deltas are exact
    * integer seconds via unix_micros integer division. */
  val qTsTimeToConvert: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("vt"))
    val pairs = ev.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("ts") > col("vt"))
      .groupBy("user_id", "vt").agg(min("ts").as("pt"))
      .withColumn("delta_s",
        expr("(unix_micros(cast(pt as timestamp)) - unix_micros(cast(vt as timestamp))) div 1000000"))
      .withColumn("cday", to_date(col("vt")))
    pairs.groupBy("cday")
      .agg(count(lit(1)).as("n_conv"),
        Num.roundd(expr("percentile(delta_s, 0.5d)"), 4).as("p50_s"),
        Num.roundd(expr("percentile(delta_s, 0.9d)"), 4).as("p90_s"),
        Num.roundd(avg("delta_s"), 2).as("avg_s"))
      .orderBy("cday")
  }

  /** Top-K churn between two report windows — "who entered/left the
    * top-10 between week 1 and week 4", the leaderboard-drift report.
    * Each window is one filtered aggregate + a rank head (rank on the
    * PRE-ROUNDED value sum with id tie-break, engine-identical); the two
    * ≤K-row heads full-outer-join on the user key, so the comparison
    * stage is O(K) no matter the event volume. */
  val qTsTopkChurn: Q = (s, d) => {
    def top(lo: String, hi: String) = {
      // TakeOrdered head first (distributed), THEN the rank window over
      // the ten surviving rows — the previous global row_number ranked
      // every user on one task
      val w = Window.orderBy(col("sv").desc, col("user_id"))
      Tables.events(s, d)
        .filter(col("ts") >= lit(lo).cast("timestamp_ntz") &&
          col("ts") < lit(hi).cast("timestamp_ntz"))
        .groupBy("user_id").agg(Num.roundd(sum("value"), 6).as("sv"))
        .orderBy(col("sv").desc, col("user_id")).limit(10)
        .withColumn("rnk", row_number().over(w).cast("long"))
    }
    val a = top("2024-01-01", "2024-01-08")
      .select(col("user_id"), col("sv").as("sv1"), col("rnk").as("rnk1"))
    val b = top("2024-01-22", "2024-01-29")
      .select(col("user_id").as("u2"), col("sv").as("sv4"), col("rnk").as("rnk4"))
    a.join(b, col("user_id") === col("u2"), "full")
      .select(coalesce(col("user_id"), col("u2")).as("user_id"),
        when(col("rnk1").isNotNull && col("rnk4").isNotNull, "stayed")
          .when(col("rnk1").isNotNull, "exited").otherwise("entered").as("status"),
        col("rnk1"), col("sv1"), col("rnk4"), col("sv4"))
      .orderBy("user_id")
  }

  // ---- catalog ------------------------------------------------------------

  /** Max-min fair-share (water-filling) allocation: per-user demands are
    * their event counts, capacity is half the total, and the allocator
    * finds the waterline w with Σ min(dᵢ, w) = C — small tenants get
    * their full demand, big ones are capped at w. THE quota-planning
    * computation for any shared resource (API budget, GPU hours, ingest
    * slots): "who would a fair cap actually cut, and at what level?".
    *
    * Closed form via one sort, no iteration: with demands ascending and
    * prefix sums Sᵢ, the last fully-satisfied rank is
    * k = max{i : Sᵢ + dᵢ·(n−i) ≤ C}, then w = (C − S_k)/(n − k). Every
    * quantity through the compare is an exact long (the cross-multiplied
    * -threshold discipline); w is the single final divide. Rank and
    * prefix sum come from Rank.withGlobalOrderStats over the COLLAPSED
    * per-user rollup (range repartition + local rank/sum + P-row offset
    * broadcast — no single-partition window; RankSpec pins the equality
    * to the exact global window), so the sort stays distributed at any
    * tenant count. n and the demand total fold in as literals straight
    * from the rank machinery's partition profile, and the PERSISTED
    * ranked frame feeds the k-search and the final allocation without
    * re-running the sort (VERDICT r13 missing #3). */
  val qOpsFairShare: Q = (s, d) => {
    val dem = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("dem"))
    val (ranked, n, tots) = Rank.withGlobalOrderStats(dem,
      Seq(col("dem").asc, col("user_id").asc), "i", Seq(("dem", "si")))
    val c = tots.head / 2 // capacity C = half the total demand, exact long
    val kRow = ranked
      .filter(col("si") + col("dem") * (lit(n) - col("i")) <= lit(c))
      .agg(coalesce(max("i"), lit(0L)).as("k"), coalesce(max("si"), lit(0L)).as("sk"))
    ranked.crossJoin(broadcast(kRow))
      .withColumn("wline", Num.roundd(
        (lit(c) - col("sk")).cast("double") / (lit(n) - col("k")).cast("double"), 4))
      .select(col("user_id"), col("dem"),
        when(col("i") <= col("k"), col("dem").cast("double"))
          .otherwise(col("wline")).as("alloc"),
        (col("i") <= col("k")).cast("long").as("satisfied"))
      .orderBy("user_id")
  }

  /** BFS hop distances from the 'signup' state over the behavior
    * transition graph — "how many steps from acquisition does each state
    * sit". Same execution split as PageRank: the DISTRIBUTED stage is
    * the edge derivation (window shuffle + hash agg, scales with the
    * scan); the BFS then runs driver-local on the collapsed
    * ≤vocabulary² edge list. The oracle is DuckDB's native recursive
    * CTE — an independent fixpoint implementation; unreachable states
    * report -1 so the report is total. */
  val qGraphBfsDist: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val edges = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("src"))
      .withColumn("dst", lead("src", 1).over(w))
      .filter(col("dst").isNotNull)
      .select("src", "dst").distinct()
    val e = edges.collect().map(r => (r.getString(0), r.getString(1)))
    val nodes = Tables.events(s, d).select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted
    val adj = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var dist = Map("signup" -> 0L)
    var frontier = Set("signup")
    var hop = 0L
    while (frontier.nonEmpty) {
      hop += 1
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      next.foreach(n => dist += n -> hop)
      frontier = next
    }
    import s.implicits._
    nodes.map(n => (n, dist.getOrElse(n, -1L))).toSeq
      .toDF("node", "hops").orderBy("node")
  }

  /** Join-cardinality estimation report — the planner-statistics view:
    * the true |events ⋈ customer| next to the two standard estimators,
    * the global NDV formula |A|·|B|/max(ndvA, ndvB) and the 64-bucket
    * histogram refinement (same formula per hash bucket, summed). The
    * report IS the calibration loop for any cost-based decision this
    * library makes (broadcast vs shuffle, bucket count) — "how wrong
    * would the planner have been, and does a histogram fix it?".
    *
    * Buckets use the shared md5 hash family, so both engines bin
    * identically; every count is an exact long and each estimator is
    * one final double expression. The exact count is one join-aggregate
    * (the thing being estimated); the stats side is two scans collapsed
    * to ≤64-row profiles. */
  val qOpsJoinCard: Q = (s, d) => {
    def bkt(c: String) = expr(s"pmod(${Dedup.h60("'jc'", s"cast($c as string)")}, 64)")
    val a = Tables.events(s, d).select(col("user_id").as("k"))
      .withColumn("b", bkt("k"))
      .groupBy("b").agg(count(lit(1)).as("na"), countDistinct("k").as("da"))
    val c = Tables.customer(s, d).select(col("c_custkey").as("k"))
      .withColumn("b", bkt("k"))
      .groupBy("b").agg(count(lit(1)).as("nc"), countDistinct("k").as("dc"))
    // r18: the global-NDV stats DERIVE from the 64-bucket rollups —
    // pmod(h60(key)) buckets PARTITION the key space, so Σ_b count =
    // count and Σ_b distinct = distinct, exactly. The former shape
    // re-scanned events and customer a second time just to recount what
    // the bucket histograms already hold (plans/r18/ops_join_card_before:
    // 6 scans → 4). A rotate pin of the rollups was measured and REJECTED
    // (0.29 → 0.77 s: the 64-row subtrees overlap in one job; a
    // checkpoint serializes the pipeline for nothing).
    val hist = a.join(c, "b")
      .select((col("na") * col("nc")).cast("double") /
        greatest(col("da"), col("dc")).cast("double") as "contrib")
      .agg(Num.roundd(sum("contrib"), 4).as("est"))
      .select(lit("histogram_64").as("estimator"), col("est"))
    val ga = a.agg(sum("na").as("na"), sum("da").as("da"))
    val gc = c.agg(sum("nc").as("nc"), sum("dc").as("dc"))
    val ndv = ga.crossJoin(gc)
      .select(lit("global_ndv").as("estimator"),
        Num.roundd((col("na") * col("nc")).cast("double") /
          greatest(col("da"), col("dc")).cast("double"), 4).as("est"))
    val exact = Tables.events(s, d)
      .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
      .agg(count(lit(1)).cast("double").as("exact"))
    ndv.unionByName(hist).crossJoin(broadcast(exact))
      .withColumn("err_pct", Num.roundd(
        (col("est") - col("exact")) * 100.0 / col("exact"), 4))
      .select("estimator", "est", "exact", "err_pct")
      .orderBy("estimator")
  }

  /** Bitwise scalar coverage (§2.1-H): mask/shift/xor/popcount over the
    * id columns — the field-packing arithmetic behind the z-order tier
    * and any bit-packed encoding, surfaced as first-class scalars. Pure
    * codegen'd projection; one scan. */
  val qScalarBits: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") < 500)
      .select(col("event_id"),
        expr("event_id & 255").as("band"),
        expr("event_id | 4096").as("bor"),
        expr("cast(event_id as bigint) ^ user_id").as("bxor"),
        expr("shiftleft(event_id, 3)").as("shl"),
        expr("shiftright(event_id, 2)").as("shr"),
        expr("cast(bit_count(event_id) as bigint)").as("pc"))
      .orderBy("event_id")

  /** Top-3 users per TRAILING-24 h window, hourly steps — the sliding
    * leaderboard a live dashboard shows, where tumbling top-k
    * (q_ts_topk_per_day) would jump at day boundaries. Same expansion
    * device as the exact sliding distinct: hourly per-user counts
    * (bounded by users × hours regardless of event volume) fan out to
    * the ≤24 windows each hour serves, re-aggregate per (window, user),
    * and rank inside the window shuffle with a total (count, user)
    * order. Shuffle volume is 24× the COMPRESSED panel, never the raw
    * scan. */
  val qTsSlidingTopk: Q = (s, d) => {
    // Trailing-24h per-user counts WITHOUT the 24× presence explode
    // (ScaleBench r12: the exploded groupBy(w, user) shuffled 173M rows
    // at 100× data): each event becomes ±1 deltas at hi and hi+24; a
    // per-user prefix sum over the delta points is the trailing count as
    // a step function, and each positive step is an INTERVAL of grid
    // hours carrying one constant count — fed to the grid top-3 as an
    // interval (graft_range_topk, r16), never expanded to a row per
    // covered hour. Counts stay exact longs (sums of ±1).
    // raw ±1 deltas straight off the scan — no pre-aggregate: the window
    // shuffle is the query's ONLY exchange (r16; the previous shape paid a
    // (user, hour) hash aggregate plus a re-aggregate of the delta union
    // before the same sort). The running sum's default RANGE frame gives
    // every row of an hi tie group the full tie-group sum, and non-last
    // tie rows emit the empty interval [hi, hi-1], which addRange skips —
    // so tie order cannot affect the result.
    val deltas = Tables.events(s, d)
      .select(col("user_id"),
        expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', date_trunc('hour', ts))")
          .cast("long").as("hi0"))
      .select(col("user_id"), explode(array(
        struct(col("hi0").as("hi"), lit(1L).as("dv")),
        struct((col("hi0") + 24L).as("hi"), lit(-1L).as("dv")))).as("e"))
      .select(col("user_id"), col("e.hi").as("hi"), col("e.dv").as("dv"))
    val wu = Window.partitionBy("user_id").orderBy("hi")
    val steps = deltas
      .withColumn("cnt", sum("dv").over(wu))
      .withColumn("nhi", lead("hi", 1).over(wu))
      // a cnt > 0 row always has a pending −1 delta after it (within 24 h),
      // so nhi is present; cap the step at the grid end
      .filter(col("cnt") > 0 && col("hi") <= 719L)
      .select(col("hi"), least(col("nhi") - 1L, lit(719L)).as("ehi"),
        col("cnt"), col("user_id"))
    // top-3 per window hour WITHOUT re-introducing a row per covered
    // hour: every positive step spans ≤24 grid hours (its expiring −c
    // lands within 24 h of hi), so the old explode(sequence(hi, ehi)) +
    // groupBy(wi) topk carried a ×24 row multiplier into the aggregate —
    // the r15 #1 scale wall (56.7 s at the 100M-row slice). graft_range_topk
    // offers each step INTERVAL to the 720-hour grid inside ONE mergeable
    // state (720 × top-3; the common per-hour step is a single long
    // compare against the slot's 3rd entry), map-side partials reduce
    // every partition to ≤720·3 entries before a shuffle of partials,
    // and counts stay exact longs end to end. Order (cnt desc, user asc)
    // is the aggregate's native order.
    // CONTRACT (ADVICE r16): events timestamps start at the grid epoch
    // 2024-01-01 (Tables generator invariant). addRange floors lo at slot 0,
    // so an event BEFORE the epoch would have its pre-grid window hours
    // clipped here while the oracle's explode form still emits them — the
    // engines agree exactly because no such event exists in any corpus this
    // catalog serves. A corpus with earlier timestamps needs the matching
    // lower bound added on both sides first.
    graft.functions.GraftFunctions.register(s)
    steps
      .agg(call_function("graft_range_topk", col("hi"), col("ehi"),
        col("cnt"), col("user_id"), lit(3), lit(720)).as("nb"))
      .select(explode(col("nb")).as("e"))
      .select(expr("timestampadd(HOUR, e.wi, TIMESTAMP_NTZ '2024-01-01 00:00:00')").as("w"),
        col("e.rk").as("rk"), col("e.id").as("user_id"), col("e.cnt").as("cnt"))
      .orderBy("w", "rk")
  }

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q_ts_sliding_topk", qTsSlidingTopk, Some(
      "WITH uh AS (SELECT user_id, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "ex AS (SELECT user_id, h + i * INTERVAL 1 HOUR w, c FROM uh " +
        "CROSS JOIN (SELECT unnest(range(0, 24)) i) " +
        "WHERE h + i * INTERVAL 1 HOUR <= TIMESTAMP '2024-01-30 23:00:00'), " +
        "wc AS (SELECT w, user_id, CAST(sum(c) AS BIGINT) cnt FROM ex GROUP BY 1, 2), " +
        "r AS (SELECT w, user_id, cnt, CAST(row_number() OVER " +
        "(PARTITION BY w ORDER BY cnt DESC, user_id ASC) AS BIGINT) rk FROM wc) " +
        "SELECT w, rk, user_id, cnt FROM r WHERE rk <= 3 ORDER BY w, rk")),
    ("q_ops_join_card", qOpsJoinCard, Some(
      "WITH a AS (SELECT CAST('0x' || substr(md5('jc' || ':' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 64 b, " +
        "CAST(count(*) AS BIGINT) na, CAST(count(DISTINCT user_id) AS BIGINT) da FROM events GROUP BY 1), " +
        "c AS (SELECT CAST('0x' || substr(md5('jc' || ':' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 64 b, " +
        "CAST(count(*) AS BIGINT) nc, CAST(count(DISTINCT c_custkey) AS BIGINT) dc FROM customer GROUP BY 1), " +
        "hist AS (SELECT 'histogram_64' estimator, round(sum(CAST(na * nc AS DOUBLE) / greatest(da, dc)), 4) est " +
        "FROM a JOIN c USING (b)), " +
        "ga AS (SELECT CAST(count(*) AS BIGINT) na, CAST(count(DISTINCT user_id) AS BIGINT) da FROM events), " +
        "gc AS (SELECT CAST(count(*) AS BIGINT) nc, CAST(count(DISTINCT c_custkey) AS BIGINT) dc FROM customer), " +
        "ndv AS (SELECT 'global_ndv' estimator, round(CAST(ga.na * gc.nc AS DOUBLE) / greatest(ga.da, gc.dc), 4) est FROM ga, gc), " +
        "ex AS (SELECT CAST(count(*) AS DOUBLE) exact FROM events JOIN customer ON user_id = c_custkey) " +
        "SELECT estimator, est, exact, round((est - exact) * 100.0 / exact, 4) err_pct " +
        "FROM (SELECT * FROM ndv UNION ALL SELECT * FROM hist), ex ORDER BY estimator")),
    ("q_scalar_bits", qScalarBits, Some(
      "SELECT event_id, event_id & 255 band, event_id | 4096 bor, " +
        "xor(event_id, user_id) bxor, event_id << 3 shl, event_id >> 2 shr, " +
        "CAST(bit_count(event_id) AS BIGINT) pc " +
        "FROM events WHERE event_id < 500 ORDER BY event_id")),
    ("q_ops_fair_share", qOpsFairShare, Some(
      "WITH dem AS (SELECT user_id, CAST(count(*) AS BIGINT) dem FROM events GROUP BY 1), " +
        "r AS (SELECT user_id, dem, CAST(row_number() OVER o AS BIGINT) i, " +
        "CAST(sum(dem) OVER o AS BIGINT) si FROM dem " +
        "WINDOW o AS (ORDER BY dem, user_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "st AS (SELECT CAST(max(i) AS BIGINT) n, CAST(sum(dem) AS BIGINT) tot FROM r), " +
        "kk AS (SELECT CAST(coalesce(max(i), 0) AS BIGINT) k, CAST(coalesce(max(si), 0) AS BIGINT) sk " +
        "FROM r, st WHERE si + dem * (n - i) <= tot // 2) " +
        "SELECT user_id, dem, " +
        "CASE WHEN i <= k THEN CAST(dem AS DOUBLE) " +
        "ELSE round(CAST(tot // 2 - sk AS DOUBLE) / (n - k), 4) END alloc, " +
        "CAST(CASE WHEN i <= k THEN 1 ELSE 0 END AS BIGINT) satisfied " +
        "FROM r, st, kk ORDER BY user_id")),
    ("q_graph_bfs_dist", qGraphBfsDist, Some(
      "WITH RECURSIVE ed AS (SELECT DISTINCT event_type src, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) dst FROM events), " +
        "e AS (SELECT src, dst FROM ed WHERE dst IS NOT NULL), " +
        "bfs AS (" +
        "SELECT 'signup' node, CAST(0 AS BIGINT) hops " +
        "UNION ALL " +
        "SELECT e.dst, b.hops + 1 FROM bfs b JOIN e ON e.src = b.node " +
        "WHERE b.hops < (SELECT count(DISTINCT event_type) FROM events)) " +
        "SELECT n.event_type node, CAST(coalesce(min(b.hops), -1) AS BIGINT) hops " +
        "FROM (SELECT DISTINCT event_type FROM events) n LEFT JOIN bfs b ON b.node = n.event_type " +
        "GROUP BY 1 ORDER BY 1")),
    ("q_ts_topk_churn", qTsTopkChurn, Some(
      "WITH w1 AS (SELECT user_id, round(sum(value), 6) sv FROM events " +
        "WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08' GROUP BY 1), " +
        "t1 AS (SELECT user_id, sv sv1, CAST(row_number() OVER (ORDER BY sv DESC, user_id) AS BIGINT) rnk1 " +
        "FROM w1 QUALIFY rnk1 <= 10), " +
        "w4 AS (SELECT user_id, round(sum(value), 6) sv FROM events " +
        "WHERE ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29' GROUP BY 1), " +
        "t4 AS (SELECT user_id, sv sv4, CAST(row_number() OVER (ORDER BY sv DESC, user_id) AS BIGINT) rnk4 " +
        "FROM w4 QUALIFY rnk4 <= 10) " +
        "SELECT coalesce(t1.user_id, t4.user_id) user_id, " +
        "CASE WHEN rnk1 IS NOT NULL AND rnk4 IS NOT NULL THEN 'stayed' " +
        "WHEN rnk1 IS NOT NULL THEN 'exited' ELSE 'entered' END status, " +
        "rnk1, sv1, rnk4, sv4 " +
        "FROM t1 FULL JOIN t4 ON t4.user_id = t1.user_id ORDER BY 1")),
    ("q_ts_mttr", qTsMttr, Some(
      "WITH h AS (SELECT event_type, CAST(datediff('hour', TIMESTAMP '2024-01-01', date_trunc('hour', ts)) AS BIGINT) hi, " +
        "CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, CAST(sum(n) AS BIGINT) tn, CAST(count(*) AS BIGINT) nh FROM h GROUP BY 1), " +
        "b AS (SELECT h.event_type, h.hi, h.hi - row_number() OVER (PARTITION BY h.event_type ORDER BY h.hi) grp " +
        "FROM h JOIN t ON t.event_type = h.event_type WHERE h.n * 4 * t.nh > t.tn * 5), " +
        "inc AS (SELECT event_type, grp, CAST(min(hi) AS BIGINT) start_hi, CAST(count(*) AS BIGINT) len " +
        "FROM b GROUP BY 1, 2), " +
        "g AS (SELECT event_type, len, start_hi - lag(start_hi) OVER (PARTITION BY event_type ORDER BY start_hi) gap " +
        "FROM inc) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) n_incidents, round(avg(len), 4) mttr_h, " +
        "round(avg(gap), 4) mtbf_h, CAST(max(len) AS BIGINT) longest_h " +
        "FROM g GROUP BY 1 ORDER BY 1")),
    ("q_ab_ztest", qAbZtest, Some(
      "WITH u AS (SELECT user_id, CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) conv " +
        "FROM events GROUP BY 1), " +
        "ua AS (SELECT CAST('0x' || substr(md5('ab' || ':' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 variant, " +
        "conv FROM u), " +
        "v AS (SELECT variant, CAST(count(*) AS BIGINT) n, CAST(sum(conv) AS BIGINT) c FROM ua GROUP BY 1), " +
        "w AS (SELECT max(CASE WHEN variant = 0 THEN n END) n_a, max(CASE WHEN variant = 0 THEN c END) conv_a, " +
        "max(CASE WHEN variant = 1 THEN n END) n_b, max(CASE WHEN variant = 1 THEN c END) conv_b FROM v) " +
        "SELECT n_a, conv_a, n_b, conv_b, " +
        "round(CAST(conv_a AS DOUBLE) / n_a, 6) rate_a, round(CAST(conv_b AS DOUBLE) / n_b, 6) rate_b, " +
        "CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN " +
        "round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) / " +
        "sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) * " +
        "(1.0::DOUBLE - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) * " +
        "(1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b)), 4) END z FROM w")),
    ("q_ab_cuped", qAbCuped, Some(
      "WITH u AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) x, " +
        "CAST(sum(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) y " +
        "FROM events GROUP BY 1), " +
        "ua AS (SELECT CAST('0x' || substr(md5('ab' || ':' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 variant, " +
        "x, y FROM u), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy, " +
        "CAST(sum(x * y) AS BIGINT) sxy, CAST(sum(x * x) AS BIGINT) sxx, CAST(sum(y * y) AS BIGINT) syy FROM ua), " +
        "a AS (SELECT variant, CAST(count(*) AS BIGINT) an, CAST(sum(x) AS BIGINT) ax, CAST(sum(y) AS BIGINT) ay " +
        "FROM ua GROUP BY 1), " +
        "w AS (SELECT max(CASE WHEN variant = 0 THEN an END) n_a, max(CASE WHEN variant = 0 THEN ax END) x_a, " +
        "max(CASE WHEN variant = 0 THEN ay END) y_a, max(CASE WHEN variant = 1 THEN an END) n_b, " +
        "max(CASE WHEN variant = 1 THEN ax END) x_b, max(CASE WHEN variant = 1 THEN ay END) y_b FROM a), " +
        "th AS (SELECT w.*, m.*, " +
        "CASE WHEN m.n * m.sxx - m.sx * m.sx <> 0 THEN " +
        "round(CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE) / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE), 9) END theta " +
        "FROM w CROSS JOIN m) " +
        "SELECT n_a, n_b, " +
        "round(CAST(y_a AS DOUBLE) / n_a - CAST(y_b AS DOUBLE) / n_b, 6) diff_raw, theta, " +
        "CASE WHEN theta IS NOT NULL THEN round((CAST(y_a AS DOUBLE) / n_a - CAST(y_b AS DOUBLE) / n_b) - " +
        "theta * (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b), 6) END diff_cuped, " +
        "CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE) / " +
        "(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) END var_reduction " +
        "FROM th")),
    ("q_ts_time_to_convert", qTsTimeToConvert, Some(
      "WITH fv AS (SELECT user_id, min(ts) vt FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "pp AS (SELECT e.user_id, fv.vt, min(e.ts) pt FROM events e JOIN fv ON fv.user_id = e.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts > fv.vt GROUP BY 1, 2), " +
        "dl AS (SELECT CAST(vt AS DATE) cday, CAST((epoch_us(pt) - epoch_us(vt)) // 1000000 AS BIGINT) delta_s FROM pp) " +
        "SELECT cday, CAST(count(*) AS BIGINT) n_conv, round(quantile_cont(delta_s, 0.5), 4) p50_s, " +
        "round(quantile_cont(delta_s, 0.9), 4) p90_s, round(avg(delta_s), 2) avg_s " +
        "FROM dl GROUP BY 1 ORDER BY 1")),
    ("q_ts_new_series", qTsNewSeries, Some(
      "WITH f AS (SELECT user_id, min(ts) fts FROM events GROUP BY 1), " +
        "p AS (SELECT date_trunc('day', fts) d, CAST(count(*) AS BIGINT) new_users FROM f GROUP BY 1) " +
        "SELECT d, new_users, CAST(sum(new_users) OVER (ORDER BY d) AS BIGINT) cum_users " +
        "FROM p ORDER BY d")),
    ("q_ts_cardinality", qTsCardinality, Some(
      "WITH b AS (SELECT DISTINCT date_trunc('day', ts) d, event_type, user_id FROM events), " +
        "pt AS (SELECT d, event_type, CAST(count(*) AS BIGINT) n_series FROM b GROUP BY 1, 2), " +
        "pd AS (SELECT d, CAST(count(*) AS BIGINT) day_series FROM " +
        "(SELECT DISTINCT d, user_id FROM b) GROUP BY 1) " +
        "SELECT pt.d, event_type, n_series, day_series, " +
        "round(CAST(n_series AS DOUBLE) / day_series, 6) frac " +
        "FROM pt JOIN pd ON pt.d = pd.d ORDER BY pt.d, event_type")),
    ("q_ts_burn_rate", qTsBurnRate, Some(
      "WITH h AS (SELECT date_trunc('hour', ts) h, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) err, " +
        "CAST(count(*) AS BIGINT) tot FROM events GROUP BY 1), " +
        "w AS (SELECT h, err, tot, " +
        "CAST(sum(err) OVER (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) err6, " +
        "CAST(sum(tot) OVER (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) tot6 FROM h), " +
        "r AS (SELECT h, err, tot, " +
        "round(CAST(err AS DOUBLE) / tot / 0.25, 4) burn1, " +
        "round(CAST(err6 AS DOUBLE) / tot6 / 0.25, 4) burn6 FROM w) " +
        "SELECT h, err, tot, burn1, burn6, " +
        "CAST(CASE WHEN burn1 > 1.0 AND burn6 > 1.0 THEN 1 ELSE 0 END AS BIGINT) alert " +
        "FROM r ORDER BY h")),
    ("q_ts_alert_for", qTsAlertFor, Some(
      "WITH a AS (SELECT date_trunc('hour', ts) h, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) err, " +
        "CAST(count(*) AS BIGINT) tot FROM events GROUP BY 1), " +
        "r AS (SELECT h, round(CAST(err AS DOUBLE) / tot, 4) r, " +
        "CASE WHEN round(CAST(err AS DOUBLE) / tot, 4) > 0.22 THEN 1 ELSE 0 END breach FROM a), " +
        "o AS (SELECT h, r, breach, CASE WHEN breach = 1 AND coalesce(lag(breach) OVER (ORDER BY h), 0) = 0 THEN 1 ELSE 0 END onset FROM r), " +
        "g AS (SELECT h, r, breach, sum(onset) OVER (ORDER BY h) grp FROM o) " +
        "SELECT min(h) start_h, max(h) end_h, CAST(count(*) AS BIGINT) n_hours, max(r) peak " +
        "FROM g WHERE breach = 1 GROUP BY grp HAVING count(*) >= 3 ORDER BY start_h")),
    ("q_ts_alert_transitions", qTsAlertTransitions, Some(
      "WITH a AS (SELECT event_type, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) mv FROM events GROUP BY 1, 2), " +
        "t AS (SELECT event_type, CAST(sum(mv) AS BIGINT) total, CAST(count(*) AS BIGINT) hrs FROM a GROUP BY 1), " +
        "b AS (SELECT a.event_type, h, mv, CASE WHEN 10 * mv * hrs > 11 * total THEN 1 ELSE 0 END breach " +
        "FROM a JOIN t ON a.event_type = t.event_type), " +
        "c AS (SELECT event_type, h, mv, breach, CASE WHEN breach = 1 AND " +
        "coalesce(lag(breach) OVER (PARTITION BY event_type ORDER BY h), 0) = 0 THEN 1 ELSE 0 END onset FROM b), " +
        "d AS (SELECT event_type, h, mv, breach, sum(onset) OVER (PARTITION BY event_type ORDER BY h) grp FROM c), " +
        "e AS (SELECT event_type, h, mv, breach, CASE WHEN breach = 1 THEN " +
        "row_number() OVER (PARTITION BY event_type, grp, breach ORDER BY h) ELSE 0 END st FROM d), " +
        "f AS (SELECT event_type, h, mv, breach, st, " +
        "lag(st) OVER (PARTITION BY event_type ORDER BY h) pst FROM e) " +
        "SELECT event_type, kind, h, mv FROM (" +
        "SELECT event_type, 'fire' kind, h, mv FROM f WHERE breach = 1 AND st = 3 " +
        "UNION ALL SELECT event_type, 'resolve' kind, h, mv FROM f WHERE breach = 0 AND coalesce(pst, 0) >= 3) " +
        "ORDER BY event_type, h, kind")),
    ("q_ts_availability", qTsAvailability, Some(
      "WITH b AS (SELECT DISTINCT date_trunc('day', ts) d, date_trunc('minute', ts) m FROM events), " +
        "c AS (SELECT d, CAST(count(*) AS BIGINT) n_min FROM b GROUP BY 1) " +
        "SELECT d, n_min, round(CAST(n_min AS DOUBLE) / 1440.0, 6) avail " +
        "FROM c ORDER BY d")),
  )
}
