package graft.operators

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Signal-analysis tier over the event stream — the correlation,
  * decomposition and reporting operators an analyst points at a metric
  * once the basic rollups (TimeSeries) and alert machinery (Ops) are in
  * place: lagged cross-correlation and autocorrelation (lead/lag
  * discovery, seasonality detection), Holt-Winters-style seasonal
  * smoothing, M4 visual downsampling, JSON-weighted averages,
  * exponential-decay scoring, and the interval calculus (merge +
  * overlap join) behind outage/impact reporting.
  *
  * Determinism (SURVEY §2.0): correlation is computed from EXACT integer
  * moments of gapless hourly count series (the q_ts_corr_pair device) —
  * the only doubles are the final one-shot formula. Decay scores are sums
  * of dyadic rationals 2^-d, exact in IEEE doubles at any summation
  * order. Everything else follows the pre-rounded-sum + [[Num.roundd]]
  * contract, and every query ends in a total ORDER BY.
  *
  * Scale theme: every window function here rides a POST-aggregate series
  * (the fixed hourly grid, per-type interval sets, per-user session
  * summaries) — the raw scan only ever feeds hash aggregates and the
  * one keyed sessionization shuffle that q_ts_session already pays.
  */
object Signal {
  type Q = (SparkSession, String) => DataFrame

  /** The canonical gapless hour grid of the dataset's time range (the
    * q_ts_gapfill bounds). Absent hours are real zeros for COUNT series —
    * correlating only observed hours would bias r toward dense periods. */
  private def hourGrid(s: SparkSession): DataFrame = s.sql(
    "SELECT explode(sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00', TIMESTAMP_NTZ '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS h")

  /** Pearson r per lag from a (lg, x, yl) pair table via exact integer
    * moments — one hash aggregate per call, shared by xcorr and ACF. */
  private def corrByLag(pairs: DataFrame): DataFrame =
    pairs
      .filter(col("yl").isNotNull)
      .groupBy("lg")
      .agg(count(lit(1)).as("np"), sum("x").as("sx"), sum("yl").as("sy"),
        sum(col("x") * col("yl")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yl") * col("yl")).as("syy"))
      .filter(col("np") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("np") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("lg"), col("np").as("n_pairs"),
        Num.roundd(
          (col("np") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("np") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("np") * col("syy") - col("sy") * col("sy")).cast("double"))), 6).as("r"))
      .orderBy("lg")

  /** Lagged cross-correlation between the click and view hourly count
    * series at lags 0..6 h — "does one metric lead the other, and by how
    * much?". The series lives on the gapless grid, the 7 shifted copies
    * are `lead` columns over the ≤720-row post-agg series stacked into
    * (lag, x, y₊lag) pairs, and each lag's r comes from exact integer
    * moments. One aggregation shuffle over the scan; the grid join and
    * the lag window touch only post-agg rows. */
  val qTsXcorrLag: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("ah"))
      .agg(count(when(col("event_type") === "click", 1)).as("ax"),
        count(when(col("event_type") === "view", 1)).as("ay"))
    val g = hourGrid(s).join(agg, col("h") === col("ah"), "left")
      .select(col("h"), coalesce(col("ax"), lit(0L)).as("x"), coalesce(col("ay"), lit(0L)).as("y"))
    val w = Window.orderBy("h")
    val withLeads = (0 to 6).foldLeft(g)((df, l) => df.withColumn(s"y$l", lead("y", l).over(w)))
    val stackExpr =
      "stack(7, " + (0 to 6).map(l => s"${l}L, y$l").mkString(", ") + ") AS (lg, yl)"
    corrByLag(withLeads.select(col("x"), expr(stackExpr)))
  }

  /** Autocorrelation function of the total hourly event count at lags
    * 1..24 h — the seasonality detector (a daily cycle shows as the
    * lag-24 peak). Identical machinery to [[qTsXcorrLag]] with the series
    * correlated against itself. */
  val qTsAcf: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("ah"))
      .agg(count(lit(1)).as("ax"))
    val g = hourGrid(s).join(agg, col("h") === col("ah"), "left")
      .select(col("h"), coalesce(col("ax"), lit(0L)).as("x"))
    val w = Window.orderBy("h")
    val withLeads = (1 to 24).foldLeft(g)((df, l) => df.withColumn(s"y$l", lead("x", l).over(w)))
    val stackExpr =
      "stack(24, " + (1 to 24).map(l => s"${l}L, y$l").mkString(", ") + ") AS (lg, yl)"
    corrByLag(withLeads.select(col("x"), expr(stackExpr)))
  }

  /** Weighted average with a JSON-carried weight (the VWAP shape): per
    * (event_type, day), Σ value·k / Σ k with k = props.$.k — the query
    * every metering/billing pipeline runs when the sample carries its own
    * weight. One get_json_object walk per row feeding one hash aggregate;
    * the weighted sum is pre-rounded before the divide (§2.0.2) so
    * partial-agg merge order can't flip the 6th decimal. */
  val qTsVwap: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), date_trunc("day", col("ts")).cast("date").as("dday"),
        col("value"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type", "dday")
      .agg(count(lit(1)).as("n"), sum("k").as("vol"),
        Num.roundd(Num.roundd(sum(col("value") * col("k")), 8) / sum("k"), 6).as("vwap"))
      .orderBy("event_type", "dday")

  /** M4 visual downsampling (Jugel et al., VLDB 2014): per (event_type,
    * 4-hour pixel bucket) the min, max, first and last value — the exact
    * 4-tuple a pixel-perfect line rendering needs, generalizing
    * q_ts_ohlc's finance bars with an explicit pixel geometry and a
    * deterministic (ts, event_id) tie-break. ONE hash aggregate
    * (min/max/min_by/max_by with a struct ordering key) — no window, no
    * sort; the oracle takes the row_number window form, making this a
    * cross-algorithm check. */
  val qTsM4: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 14400000000").as("b"),
        col("ts"), col("event_id"), col("value"))
      .groupBy("event_type", "b")
      .agg(count(lit(1)).as("n"), min("value").as("vmin"), max("value").as("vmax"),
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("vopen"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("vclose"))
      .orderBy("event_type", "b")

  /** Exponential-decay scoring with EXACT arithmetic: each event weighs
    * 2^-d (d = whole days before the corpus end), so a user's score is a
    * sum of dyadic rationals with denominator 2^30 — representable
    * exactly in IEEE doubles up to 2^23 events/user, hence identical
    * under ANY summation order (no rounding contract needed, unlike
    * e^-λt whose libm pow differs per engine). The trending-users query:
    * one hash aggregate + TakeOrdered top-20. */
  val qTsDecayTopk: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"),
        expr("(unix_micros(TIMESTAMP '2024-01-31 00:00:00') - unix_micros(cast(ts as timestamp))) div 86400000000")
          .cast("int").as("dd"))
      .select(col("user_id"), expr("1.0d / cast(shiftleft(1L, dd) as double)").as("wt"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("wt").as("score"))
      .orderBy(col("score").desc, col("user_id"))
      .limit(20)

  /** Holt-Winters seasonal smoothing (additive, γ=0): seasonal indices
    * are the per-(type, hour-of-day) monthly means, the deseasonalized
    * gapless hourly series then runs the q_ts_holt double-exponential
    * fold (α=0.5, β=0.3) over the WHOLE month, and the one-step forecast
    * re-adds the midnight seasonal index. Fixing the seasonal term makes
    * the recursion state 2 doubles (a recursive-CTE oracle can carry it;
    * a full γ-update drags a 24-slot array through every step), while
    * still answering the operator's question — "where is the metric
    * heading, net of its daily cycle?". All inputs pre-rounded; both
    * engines execute the identical IEEE multiply-add sequence. */
  val qTsHoltWinters: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val grid = hourGrid(s).crossJoin(ev.select("event_type").distinct())
    val hourly = ev
      .groupBy(col("event_type").as("aet"), date_trunc("hour", col("ts")).as("ah"))
      .agg(Num.roundd(sum("value"), 6).as("asv"))
    val g = grid.join(hourly, col("h") === col("ah") && col("event_type") === col("aet"), "left")
      .select(col("event_type"), col("h"), coalesce(col("asv"), lit(0.0)).as("sv"))
    val hm = g.groupBy(col("event_type").as("het"), hour(col("h")).cast("long").as("hod"))
      .agg(Num.roundd(Num.roundd(sum("sv"), 8) / count(lit(1)), 6).as("shod"))
    val seq = g.join(hm, col("event_type") === col("het") && hour(col("h")).cast("long") === col("hod"))
      .select(col("event_type"), col("h"), Num.roundd(col("sv") - col("shod"), 6).as("x"))
    seq
      .groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("h"), col("x")))).as("pts"))
      .withColumn("vs", expr("transform(pts, p -> p.x)"))
      .withColumn("st", expr(
        "aggregate(slice(vs, 3, size(vs) - 2), " +
          "named_struct('l', element_at(vs, 2), 'b', element_at(vs, 2) - element_at(vs, 1)), " +
          "(acc, x) -> named_struct(" +
          "'l', 0.5d * x + 0.5d * (acc.l + acc.b), " +
          "'b', 0.3d * ((0.5d * x + 0.5d * (acc.l + acc.b)) - acc.l) + 0.7d * acc.b))"))
      .join(hm.filter(col("hod") === 0).select(col("het"), col("shod").as("s0")),
        col("event_type") === col("het"))
      .select(col("event_type"),
        Num.roundd(col("st.l"), 6).as("lvl"),
        Num.roundd(col("st.b"), 6).as("trend"),
        Num.roundd(col("st.l") + col("st.b") + col("s0"), 6).as("fc1"))
      .orderBy("event_type")
  }

  /** Interval union/coalesce (the gaps-and-islands merge): ±30 min
    * impact windows around every high-value sample, merged per
    * event_type into maximal disjoint windows — the normalization step
    * before any outage math. The running-max-end device: an interval
    * starts a new island iff its start is at/after the max end seen so
    * far; both windows order by (start, event_id) with ROWS frames so
    * timestamp ties cannot reorder the state machine. Windows are
    * per-type over the FILTERED (sparse) interval set — at 100 TB
    * partition further by day and stitch edges, exactly the
    * q_ts_gaps chunking. */
  val qTsIntervalMerge: Q = (s, d) => {
    val iv = Tables.events(s, d).filter(col("value") > 100.0)
      .select(col("event_type"), col("event_id"),
        expr("ts - INTERVAL '30' MINUTE").as("s"),
        expr("ts + INTERVAL '30' MINUTE").as("e"))
    val w = Window.partitionBy("event_type").orderBy("s", "event_id")
    iv
      .withColumn("pmax", max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ns", when(col("pmax").isNull || col("s") >= col("pmax"), 1).otherwise(0))
      .withColumn("gid", sum("ns").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .groupBy("event_type", "gid")
      .agg(min("s").as("w_start"), max("e").as("w_end"), count(lit(1)).as("n_events"))
      .withColumn("dur_s",
        expr("unix_micros(cast(w_end as timestamp)) div 1000000 - unix_micros(cast(w_start as timestamp)) div 1000000"))
      .orderBy("event_type", "gid")
  }

  /** Interval-overlap join: user sessions (the q_ts_session 30-min-gap
    * shape) against merged error-impact windows, emitting the overlap
    * seconds — "which sessions ran through an incident, and for how
    * long?". The merged window set is small by construction (intervals
    * coalesce), so it BROADCASTS and the range predicate evaluates as
    * the join residual — no shuffle of the session side, no cartesian;
    * were both sides large, bucket both by day first. Overlap is
    * min(ends) − max(starts) in floor-second space, strictly ≥ 0 under
    * the strict-inequality join condition. */
  val qJoinIntervalOverlap: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val sess = ev
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_ts").isNull || expr("ts - prev_ts > INTERVAL '30' MINUTE"), 1)
          .otherwise(0))
      .withColumn("sid", sum("new_s").over(byUser).cast("long"))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("s_start"), max("ts").as("s_end"))
    val iv = ev.filter(col("value") > 100.0 && col("event_type") === "error")
      .select(col("event_id"),
        expr("ts - INTERVAL '30' MINUTE").as("s"),
        expr("ts + INTERVAL '30' MINUTE").as("e"))
    // DAY-CHUNKED interval merge (the Interpolate two-pass device,
    // r9 task finally executed): the prefix-max-of-ends carry and the
    // running new-window count both decompose across day chunks —
    // per-day windows do the local work in parallel, and only the
    // ≤days-row chunk table (per-day max end + per-day new-window
    // count) runs a bounded global window before broadcasting back.
    // day(s) is monotone in s, so chunk order ≡ global (s, event_id)
    // order and the decomposition is exact; the previous single global
    // window serialized the whole alert set on one task.
    val ck = to_date(col("s"))
    val wLoc = Window.partitionBy("ck").orderBy("s", "event_id")
    // r17: pin the per-day windowed alert set — it feeds the carry rollup,
    // the ns marking AND the gid pass, and without materialization the
    // filter+window subtree re-ran once per consumer (4 evaluations in
    // plans/r17/join_interval_overlap_before). Checkpoint state is the
    // FILTERED alert set (sparse by construction), and the carry now rolls
    // up from it instead of re-deriving iv.
    val loc = iv.withColumn("ck", ck)
      .withColumn("lpmax",
        max("e").over(wLoc.rowsBetween(Window.unboundedPreceding, -1)))
      .transform(ArtifactStore.rotate("ivl_overlap_loc"))
    val wc = Window.orderBy("ck") // ≤ days rows — bounded by time, not data
    val carry = loc.groupBy("ck").agg(max("e").as("cmax"))
      .withColumn("cin", max("cmax").over(wc.rowsBetween(Window.unboundedPreceding, -1)))
      .select("ck", "cin")
    val marked = loc.join(broadcast(carry), "ck")
      .withColumn("pmax", greatest(col("cin"), col("lpmax"))) // greatest skips nulls
      .withColumn("ns", when(col("pmax").isNull || col("s") >= col("pmax"), 1).otherwise(0))
    val nsOff = marked.groupBy("ck").agg(sum("ns").as("cns"))
      .withColumn("noff",
        coalesce(sum("cns").over(wc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("ck", "noff")
    val win = marked.join(broadcast(nsOff), "ck")
      .withColumn("gid", (col("noff") +
        sum("ns").over(wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow))).cast("long"))
      .groupBy("gid")
      .agg(min("s").as("w_start"), max("e").as("w_end"))
    sess.join(broadcast(win), col("s_start") < col("w_end") && col("w_start") < col("s_end"))
      .select(col("user_id"), col("sid"), col("gid"),
        expr("unix_micros(cast(least(s_end, w_end) as timestamp)) div 1000000 - " +
          "unix_micros(cast(greatest(s_start, w_start) as timestamp)) div 1000000").as("ov_s"))
      .orderBy("user_id", "sid", "gid")
  }

  /** Rolling 24 h correlation between the click and view hourly count
    * series — the "did these two metrics decouple?" dashboard panel. All
    * six moments are trailing-frame window sums of exact integers over
    * the gapless grid (≤720 post-agg rows, one frame definition shared
    * by all six), emitted only for full windows. Same determinism story
    * as [[qTsXcorrLag]]: the only doubles are each row's one-shot r. */
  val qTsRollingCorr: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("ah"))
      .agg(count(when(col("event_type") === "click", 1)).as("ax"),
        count(when(col("event_type") === "view", 1)).as("ay"))
    val g = hourGrid(s).join(agg, col("h") === col("ah"), "left")
      .select(col("h"), coalesce(col("ax"), lit(0L)).as("x"), coalesce(col("ay"), lit(0L)).as("y"))
    val f = Window.orderBy("h").rowsBetween(-23, Window.currentRow)
    g.select(col("h"),
        count(lit(1)).over(f).as("np"),
        sum("x").over(f).as("sx"), sum("y").over(f).as("sy"),
        sum(col("x") * col("y")).over(f).as("sxy"),
        sum(col("x") * col("x")).over(f).as("sxx"),
        sum(col("y") * col("y")).over(f).as("syy"))
      .filter(col("np") === 24 &&
        col("np") * col("sxx") - col("sx") * col("sx") > 0 &&
        col("np") * col("syy") - col("sy") * col("sy") > 0)
      .select(col("h"),
        Num.roundd(
          (col("np") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("np") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("np") * col("syy") - col("sy") * col("sy")).cast("double"))), 6).as("r"))
      .orderBy("h")
  }

  /** Median absolute deviation per (event_type, day) — the robust spread
    * behind outlier fences that a long-tailed metric needs where stddev
    * lies. The median is pre-rounded before the deviation pass so both
    * engines take identical inputs into the second quantile.
    *
    * Round 15 (PlanAudit job-count pass): both exact percentiles come
    * from ONE custom hash aggregate (graft_med_mad — packed-double
    * buffers, concat merge, both quantiles at eval; MedMadAgg). The
    * previous shape scanned events twice and shipped per-group value
    * buffers through two percentile aggregates plus a broadcast
    * join-back; a groupByKey/mapGroups fusion was measured 2× WORSE at
    * the 100M-row slice (per-row Dataset serde + sort-based shuffle), so
    * the aggregate keeps the codegen'd hash-aggregate path with the same
    * per-group memory bound Spark's own exact percentile pays. */
  val qTsMad: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("dday"))
      .agg(expr("graft_med_mad(value)").as("__mm"))
      .select(col("event_type"), col("dday"),
        col("__mm.n").as("n"), col("__mm.med").as("med"), col("__mm.mad").as("mad"))
      .orderBy("event_type", "dday")
  }

  /** Population-stability-index drift report: per event_type, PSI of the
    * value distribution between week 1 and week 4 over 10 fixed buckets
    * with add-one smoothing (defined even for empty buckets) — the
    * standard "did the feature distribution move?" gate a training
    * pipeline runs before reusing a month of telemetry. Counts are exact
    * integers off ONE scan (conditional sums per bucket); the full
    * type×bucket frame comes from a crossJoin of two tiny derived dims;
    * ln terms pre-round at 6 (the q_text_zipf/q_text_lm_score libm
    * discipline), the 10-term sum re-rounds at 6. */
  val qTsDriftPsi: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val bc = ev
      .select(col("event_type"),
        least(floor(col("value") / 50.0).cast("long"), lit(9L)).as("b"),
        when(col("ts") >= lit("2024-01-01").cast("timestamp_ntz") &&
          col("ts") < lit("2024-01-08").cast("timestamp_ntz"), 1L).otherwise(0L).as("in1"),
        when(col("ts") >= lit("2024-01-22").cast("timestamp_ntz") &&
          col("ts") < lit("2024-01-29").cast("timestamp_ntz"), 1L).otherwise(0L).as("in2"))
      .filter(col("in1") === 1 || col("in2") === 1)
      .groupBy(col("event_type").as("bet"), col("b").as("bb"))
      .agg(sum("in1").as("c1"), sum("in2").as("c2"))
    val frame = ev.select("event_type").distinct()
      .crossJoin(s.range(0, 10).select(col("id").as("b")))
    val full = frame.join(bc, col("event_type") === col("bet") && col("b") === col("bb"), "left")
      .select(col("event_type"), col("b"),
        coalesce(col("c1"), lit(0L)).as("c1"), coalesce(col("c2"), lit(0L)).as("c2"))
    val tot = Window.partitionBy("event_type")
    full
      .withColumn("n1", sum("c1").over(tot))
      .withColumn("n2", sum("c2").over(tot))
      .withColumn("p", Num.roundd((col("c1") + 1).cast("double") / (col("n1") + 10), 8))
      .withColumn("q", Num.roundd((col("c2") + 1).cast("double") / (col("n2") + 10), 8))
      .withColumn("term", Num.roundd((col("p") - col("q")) * Num.roundd(log(col("p") / col("q")), 6), 8))
      .groupBy("event_type", "n1", "n2")
      .agg(Num.roundd(Num.roundd(sum("term"), 8), 6).as("psi"))
      .select("event_type", "n1", "n2", "psi")
      .orderBy("event_type")
  }

  /** SAX motif discovery (Lin et al.'s symbolic aggregate approximation):
    * each (event_type, day) hourly-sum curve is z-normalized, PAA-reduced
    * 24→8 segments, and symbolized over a 4-letter alphabet at the
    * standard N(0,1) breakpoints (−0.67, 0, 0.67); days sharing a SAX
    * word are shape motifs — "which days behaved alike?". The whole
    * pipeline rides post-aggregate series: day stats (exact moment
    * formula over pre-rounded hourly sums) re-enter as a broadcast dim,
    * PAA and the word fold group ≤types×days×8 rows. Flat days (sd = 0)
    * are excluded — they have no shape. Letter comparisons run on
    * ROUNDED PAA values, so symbolization is engine-reproducible. */
  val qTsSaxMotif: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val grid = hourGrid(s).crossJoin(ev.select("event_type").distinct())
    val hourly = ev
      .groupBy(col("event_type").as("aet"), date_trunc("hour", col("ts")).as("ah"))
      .agg(Num.roundd(sum("value"), 6).as("asv"))
    val g = grid.join(hourly, col("h") === col("ah") && col("event_type") === col("aet"), "left")
      .select(col("event_type"), date_trunc("day", col("h")).cast("date").as("dday"),
        hour(col("h")).cast("long").as("hod"), coalesce(col("asv"), lit(0.0)).as("sv"))
    val st = g.groupBy(col("event_type").as("set"), col("dday").as("sdd"))
      .agg(Num.roundd(sum("sv"), 8).as("s1"), Num.roundd(sum(col("sv") * col("sv")), 8).as("s2"))
      .withColumn("mu", Num.roundd(col("s1") / 24, 6))
      .withColumn("sd", Num.roundd(sqrt(greatest((col("s2") - col("s1") * col("s1") / 24.0) / 24.0, lit(0.0))), 6))
      .filter(col("sd") > 0)
    val paa = g.join(broadcast(st), col("event_type") === col("set") && col("dday") === col("sdd"))
      .select(col("event_type"), col("dday"), expr("hod div 3").as("seg"),
        Num.roundd((col("sv") - col("mu")) / col("sd"), 6).as("z"))
      .groupBy("event_type", "dday", "seg")
      .agg(Num.roundd(Num.roundd(sum("z"), 8) / 3, 6).as("p"))
      .withColumn("letter",
        when(col("p") < -0.67, "a").when(col("p") < 0, "b")
          .when(col("p") < 0.67, "c").otherwise("d"))
    paa
      .groupBy("event_type", "dday")
      .agg(expr("array_join(transform(sort_array(collect_list(struct(seg, letter))), x -> x.letter), '')").as("word"))
      .groupBy("event_type", "word")
      .agg(count(lit(1)).as("n_days"), min("dday").as("first_day"))
      .orderBy("event_type", "word")
  }

  /** DFT periodogram at the four candidate periods a daily/shift-cycle
    * dashboard probes (24/12/8/6 h): spectral power of each series'
    * hourly count signal, power(T) = (Σ vₜ·cos(2πt/T))² + (Σ vₜ·sin(2πt/T))².
    * The frequency-domain seasonality detector complementing q_ts_acf's
    * time-domain one.
    *
    * Determinism device: the trig basis enters BOTH engines as the same
    * 6-decimal LITERAL tables (generated once below — never `cos()` at
    * runtime, whose libm results differ across engines in the last ulp),
    * indexed by t mod T. Counts are exact longs, each product is one
    * double multiply of identical operands, and the two accumulators are
    * pre-rounded at 6 — EXACTLY the literal grid: every term n·basis is an
    * integer multiple of 1e-6, so the true sum sits ON a 1e-6 grid point
    * and rounding at 6 is an order-immune snap to it (rounding at FEWER
    * decimals would park every "…x50"-ending sum on the half-way boundary
    * and let summation order pick the side — observed at sf0.1). Both
    * engines snap to the same double before squaring. Zero-count hours
    * contribute exactly 0 to both sums, so the observed (sparse) series
    * needs no gap-fill grid.
    *
    * Scale: one map-side-combining hash aggregate to the hourly series,
    * then a 4× literal-array explode of ≤ hours×types rows and a second
    * vocabulary-bounded aggregate — no window, no join, no shuffle of the
    * raw scan beyond the first aggregate. */
  val qTsPeriodogram: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hi", expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', h)"))
      .withColumn("period", explode(expr("array(24L, 12L, 8L, 6L)")))
      .withColumn("c", expr(sparkTrigCase(math.cos)))
      .withColumn("sn", expr(sparkTrigCase(math.sin)))
      .groupBy("event_type", "period")
      .agg(Num.roundd(sum(col("n") * col("c")), 6).as("a6"),
        Num.roundd(sum(col("n") * col("sn")), 6).as("b6"))
      .select(col("event_type"), col("period"), col("a6"), col("b6"),
        Num.roundd(col("a6") * col("a6") + col("b6") * col("b6"), 2).as("power"))
      .orderBy("event_type", "period")
  }

  /** Trailing-24h rolling median and IQR of the hourly count per
    * event_type — the robust rolling baseline (median ignores the spike
    * that drags a rolling mean; IQR is the robust width the MAD tier
    * reads daily, here continuous). Exact-percentile-as-window over the
    * gapless panel: counts are exact longs, the interpolated quantile
    * formula is the q_docs_length_dist device both engines share, and
    * only COMPLETE 24-hour frames report (window-count guard). All
    * windows ride one panel-keyed shuffle — post-aggregate, never event
    * volume. */
  val qTsRollingMedian: Q = (s, d) => {
    val types = Tables.events(s, d).select(col("event_type").as("et")).distinct()
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val p = types.crossJoin(broadcast(hourGrid(s)))
      .join(hourly, Seq("et", "h"), "left")
      .select(col("et"), col("h"), coalesce(col("c"), lit(0L)).as("c"))
    val wf = Window.partitionBy("et").orderBy("h").rowsBetween(-23, 0)
    p.withColumn("wn", count(lit(1)).over(wf))
      .withColumn("med", expr("percentile(c, 0.5d)").over(wf))
      .withColumn("q1", expr("percentile(c, 0.25d)").over(wf))
      .withColumn("q3", expr("percentile(c, 0.75d)").over(wf))
      .filter(col("wn") === 24L)
      .select(col("et").as("event_type"), col("h"),
        Num.roundd(col("med"), 6).as("med"),
        Num.roundd(col("q3") - col("q1"), 6).as("iqr"))
      .orderBy("event_type", "h")
  }

  /** Haar wavelet detail energies, levels 1–9 over the first 512 hours
    * (the dyadic prefix) — the multiresolution complement of
    * [[qTsPeriodogram]]'s fixed-frequency probe: level 1 captures
    * hour-to-hour churn, level 5 the ~daily swing, level 9 the
    * half-month drift (Haar 1910; Mallat's pyramid, 1989). EVERYTHING
    * is exact integers until one division per level: the unnormalized
    * detail coefficient is Σ(first half) − Σ(second half) of each
    * 2^ℓ-hour block — a SIGNED count sum, so absent hours contribute
    * their real zero without materializing a grid — and the orthonormal
    * energy is Σd²/2^ℓ. Scale: the raw scan collapses to the hourly
    * rollup once; the level fan-out is rollup × 9 into one hash
    * aggregate keyed by (type, level, block) — map-side combinable,
    * never event volume. */
  val qTsHaarEnergy: Q = (s, d) => {
    val pf = Tables.events(s, d)
      .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cn"))
      .withColumn("x",
        expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', h)").cast("long"))
      .filter(col("x") >= 0L && col("x") < 512L)
    val coefs = pf.withColumn("lv", explode(expr("sequence(1L, 9L)")))
      .withColumn("bs", expr("cast(shiftleft(1, cast(lv as int)) as bigint)"))
      .withColumn("blk", expr("x div bs"))
      .withColumn("sc", when((col("x") % col("bs")) * 2L < col("bs"), col("cn"))
        .otherwise(-col("cn")))
      .groupBy("et", "lv", "bs", "blk")
      .agg(sum("sc").as("dc"))
    coefs.groupBy("et", "lv", "bs")
      .agg(sum(col("dc") * col("dc")).as("e2"))
      .select(col("et").as("event_type"), col("lv").as("level"),
        expr("512 div bs").as("n_coef"),
        Num.roundd(col("e2").cast("double") / col("bs").cast("double"), 6).as("energy"))
      .orderBy("event_type", "level")
  }

  // ---- trig literal tables (shared by the Spark plan and the oracle) ------

  private val PERIODS = Seq(24, 12, 8, 6)

  /** One basis value as a 6-decimal literal; "-0.000000" normalizes to
    * "0.000000" so neither engine can see a negative zero. */
  private def trig6(t: Int, k: Int, f: Double => Double): String = {
    val s0 = "%.6f".formatLocal(java.util.Locale.ROOT, f(2 * math.Pi * k / t))
    if (s0 == "-0.000000") "0.000000" else s0
  }

  private def sparkTrigCase(f: Double => Double): String =
    PERIODS.map { t =>
      val arr = (0 until t).map(k => trig6(t, k, f) + "D").mkString("array(", ", ", ")")
      s"WHEN period = $t THEN element_at($arr, cast(hi % $t as int) + 1)"
    }.mkString("CASE ", " ", " END")

  private def duckTrigCase(f: Double => Double): String =
    PERIODS.map { t =>
      val arr = (0 until t).map(k => trig6(t, k, f)).mkString("CAST([", ", ", "] AS DOUBLE[])")
      s"WHEN p = $t THEN ($arr)[CAST(hi % $t AS INT) + 1]"
    }.mkString("CASE ", " ", " END")

  // ---- catalog ------------------------------------------------------------

  private val GRID =
    "SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h"

  private def corrTail: String =
    "m AS (SELECT lg, CAST(count(*) AS BIGINT) np, CAST(sum(x) AS BIGINT) sx, CAST(sum(yl) AS BIGINT) sy, " +
      "CAST(sum(x*yl) AS BIGINT) sxy, CAST(sum(x*x) AS BIGINT) sxx, CAST(sum(yl*yl) AS BIGINT) syy " +
      "FROM p WHERE yl IS NOT NULL GROUP BY 1) " +
      "SELECT CAST(lg AS BIGINT) lg, np n_pairs, " +
      "round(CAST(np*sxy - sx*sy AS DOUBLE) / " +
      "(sqrt(CAST(np*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(np*syy - sy*sy AS DOUBLE))), 6) r " +
      "FROM m WHERE np*sxx - sx*sx > 0 AND np*syy - sy*sy > 0 ORDER BY lg"

  /** Pairwise distance matrix between the per-type hourly count series
    * on the gapless grid — the series-clustering precursor ("which
    * metrics move together?") next to q_ts_corr_pair's single Pearson r:
    * L1 and L2 between every type pair, EXACT integer sums throughout
    * (the only double is the final sqrt). One hour-keyed self-join of
    * the ≤types×720 panel — pairs×grid rows, never the raw scan. */
  val qTsSeriesDist: Q = (s, d) => {
    val types = Tables.events(s, d).select(col("event_type").as("et")).distinct()
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val panel = types.crossJoin(broadcast(hourGrid(s)))
      .join(hourly, Seq("et", "h"), "left")
      .select(col("et"), col("h"), coalesce(col("c"), lit(0L)).as("c"))
    val a = panel.select(col("et").as("et_a"), col("h"), col("c").as("ca"))
    val b = panel.select(col("et").as("et_b"), col("h"), col("c").as("cb"))
    a.join(b, "h").filter(col("et_a") < col("et_b"))
      .groupBy("et_a", "et_b")
      .agg(sum(abs(col("ca") - col("cb"))).as("l1"),
        sum((col("ca") - col("cb")) * (col("ca") - col("cb"))).as("l2sq"))
      .select(col("et_a"), col("et_b"), col("l1"),
        Num.roundd(sqrt(col("l2sq").cast("double")), 6).as("l2"))
      .orderBy("et_a", "et_b")
  }

  /** Exact matrix profile (Yeh et al., ICDM 2016) of each event_type's
    * 6-hour-bucket count series: for every length-8 subsequence, the
    * z-normalized Euclidean distance to its nearest non-overlapping
    * neighbor (exclusion zone m/2) plus that neighbor's index — THE
    * motif/discord primitive (minima = repeated shapes, maxima =
    * anomalies). This is the exact O(n²·m) formulation — right here
    * because n is the FIXED 120-bucket calendar window per key: the n²
    * term is a constant and the operator scales out across series keys,
    * with the raw scan paying only one hash aggregate. The LONG-series
    * scale path is [[stompKernel]]/[[matrixProfileStomp]] below — the
    * real STOMP O(n²) diagonal recurrence behind the same per-key API,
    * held equal to a from-scratch all-pairs reference in SignalSpec.
    *
    * Determinism: bucket counts are exact longs; per-window μ and σ round
    * at 6 dp; each z-score rounds at 6 dp then lifts to a micro-unit LONG,
    * so every pair distance² is an EXACT integer sum of squared long
    * diffs (order-free) and the argmin tie-break (d², then j) compares
    * longs, never floats. σ carries a +1e-6 floor so a constant window
    * (σ=0) yields all-zero z-scores instead of a divide-by-zero.
    *
    * Since round 15 the GATED entry is [[qTsMatrixProfile]] below — one
    * hash aggregate + one groupByKey, with the whole n²·m pair expansion
    * collapsed into [[matrixProfileExactKernel]] per key (SignalSpec pins
    * the two frame-equal on the fixture; the oracle hash is unchanged).
    * This join form stays as the spec's distributed reference — it IS the
    * oracle's shape, evaluated through Spark operators. */
  private[graft] val matrixProfilePairJoinForm: Q = (s, d) => {
    val m = 8
    val buckets = s.sql("SELECT explode(sequence(0, 119)) AS b")
      .crossJoin(Tables.events(s, d).select(col("event_type").as("et")).distinct())
    val counts = Tables.events(s, d)
      .groupBy(col("event_type").as("cet"),
        (expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', date_trunc('hour', ts))")
          .cast("long") / lit(6L)).cast("long").as("cb"))
      .agg(count(lit(1)).as("c"))
    val series = buckets
      .join(counts, col("et") === col("cet") && col("b") === col("cb"), "left")
      .select(col("et"), col("b"), coalesce(col("c"), lit(0L)).as("v"))
    // windows: (et, i, k, v) for window start i, in-window offset k
    val offs = s.sql(s"SELECT explode(sequence(0, ${m - 1})) AS k")
    val w = series.crossJoin(broadcast(offs))
      .select(col("et"), (col("b") - col("k")).as("i"), col("k"), col("v"))
      .filter(col("i") >= 0 && col("i") <= lit(120 - m))
    val st = w.groupBy(col("et").as("set"), col("i").as("si"))
      .agg(sum("v").as("s1"), sum(col("v") * col("v")).as("s2"))
      .select(col("set"), col("si"),
        Num.roundd(col("s1").cast("double") / m, 6).as("mu"),
        Num.roundd(sqrt(
          greatest((col("s2").cast("double") - col("s1").cast("double") * col("s1").cast("double") / m) / m,
            lit(0.0)) + 1e-6), 6).as("sd"))
    val z = w.join(broadcast(st), col("et") === col("set") && col("i") === col("si"))
      .select(col("et"), col("i"), col("k"),
        Num.roundd(Num.roundd((col("v").cast("double") - col("mu")) / col("sd"), 6) * 1e6, 0)
          .cast("long").as("zl"))
    val za = z.select(col("et"), col("i").as("ia"), col("k"), col("zl").as("zla"))
    val zb = z.select(col("et").as("etb"), col("i").as("ib"), col("k").as("kb"), col("zl").as("zlb"))
    val pairs = za.join(zb,
        col("et") === col("etb") && col("k") === col("kb") && col("ib") >= col("ia") + lit(m / 2))
      .groupBy(col("et"), col("ia"), col("ib"))
      .agg(sum((col("zla") - col("zlb")) * (col("zla") - col("zlb"))).as("d2l"))
    val both = pairs.select(col("et"), col("ia").as("i"), col("ib").as("j"), col("d2l"))
      .unionAll(pairs.select(col("et"), col("ib").as("i"), col("ia").as("j"), col("d2l")))
    val rn = Window.partitionBy("et", "i").orderBy(col("d2l"), col("j"))
    both.withColumn("rn", row_number().over(rn)).filter(col("rn") === 1)
      .select(col("et").as("event_type"), col("i"), col("j").as("nn"),
        Num.roundd(sqrt(col("d2l").cast("double")) / 1e6, 6).as("dist"))
      .orderBy("event_type", "i")
  }

  /** Oracle-disciplined matrix-profile kernel: the EXACT micro-unit-long
    * arithmetic of [[matrixProfilePairJoinForm]] (μ/σ rounded at 6 dp via
    * [[Num.rounddD]], z-scores rounded then lifted to 1e-6-unit longs,
    * d² an exact long sum of squared diffs, argmin tie-break (d², j) on
    * longs) — but run per key as an in-memory array walk instead of an
    * n²-pair shuffle join. Unlike [[stompKernel]], the QT diagonal
    * recurrence canNOT carry this discipline: the per-window rounding of
    * μ/σ/z makes each window's z-vector an independent integer object
    * with no shared cross-term, so the kernel evaluates the (i, j) sums
    * directly — still O(n²·m), but as ~10⁵ register ops per key instead
    * of n²·m shuffled rows, which is precisely why the gated entry's
    * Spark plan collapses to one aggregate + one groupByKey. Raw-double
    * long-series work stays on [[stompKernel]].
    *
    * Returns per window start i: (nearest neighbor j with j ≥ i+excl or
    * i ≥ j+excl, exact micro²-unit d²) for all n = |vals| − m + 1 starts. */
  def matrixProfileExactKernel(vals: Array[Long], m: Int, excl: Int): Array[(Int, Long)] = {
    val n = vals.length - m + 1
    require(n >= 1, s"series shorter than window: ${vals.length} < $m")
    val zl = Array.ofDim[Long](n, m)
    var i = 0
    while (i < n) {
      var s1 = 0L; var s2 = 0L; var k = 0
      while (k < m) { val x = vals(i + k); s1 += x; s2 += x * x; k += 1 }
      val mu = Num.rounddD(s1.toDouble / m, 6)
      val sd = Num.rounddD(math.sqrt(
        math.max((s2.toDouble - s1.toDouble * s1.toDouble / m) / m, 0.0) + 1e-6), 6)
      k = 0
      while (k < m) {
        zl(i)(k) = Num.rounddD(
          Num.rounddD((vals(i + k).toDouble - mu) / sd, 6) * 1e6, 0).toLong
        k += 1
      }
      i += 1
    }
    val bestD = Array.fill(n)(Long.MaxValue)
    val bestJ = Array.fill(n)(-1)
    val ez = math.max(excl, 1)
    i = 0
    while (i < n) {
      var j = i + ez
      while (j < n) {
        var d2 = 0L; var k = 0
        while (k < m) { val dz = zl(i)(k) - zl(j)(k); d2 += dz * dz; k += 1 }
        if (d2 < bestD(i) || (d2 == bestD(i) && j < bestJ(i))) { bestD(i) = d2; bestJ(i) = j }
        if (d2 < bestD(j) || (d2 == bestD(j) && i < bestJ(j))) { bestD(j) = d2; bestJ(j) = i }
        j += 1
      }
      i += 1
    }
    Array.tabulate(n)(i => (bestJ(i), bestD(i)))
  }

  /** The gated matrix-profile entry (round 15): same output bits as
    * [[matrixProfilePairJoinForm]] — SignalSpec pins frame equality and
    * the DuckDB oracle is untouched — but the plan is ONE hash aggregate
    * over the raw scan (event_type × 120 6-hour buckets) followed by one
    * groupByKey whose per-key work is [[matrixProfileExactKernel]]. The
    * 100 TB shape: parallelism = series keys, per-key state = 120 longs;
    * nothing n² ever crosses a shuffle. */
  val qTsMatrixProfile: Q = (s, d) => {
    import s.implicits._
    val m = 8
    Tables.events(s, d)
      .groupBy(col("event_type"),
        (expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', date_trunc('hour', ts))")
          .cast("long") / lit(6L)).cast("long").as("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"), col("b"), col("c")).as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (et, it) =>
        val v = new Array[Long](120)
        it.foreach { case (_, b, c) => if (b >= 0 && b < 120) v(b.toInt) = c }
        matrixProfileExactKernel(v, m, m / 2).iterator.zipWithIndex.map {
          case ((j, d2l), i) => (et, i.toLong, j.toLong, d2l)
        }
      }
      .toDF("event_type", "i", "nn", "d2l")
      .select(col("event_type"), col("i"), col("nn"),
        Num.roundd(sqrt(col("d2l").cast("double")) / 1e6, 6).as("dist"))
      .orderBy("event_type", "i")
  }

  /** STOMP (Zhu et al., ICDM 2016) — the long-series scale path behind
    * the same matrix-profile API as [[qTsMatrixProfile]]. Instead of the
    * O(n²·m) all-window-pairs expansion, each diagonal's sliding dot
    * product obeys the O(1) recurrence
    * `QT(i+1, j+1) = QT(i, j) − v[i]·v[j] + v[i+m]·v[j+m]`, and the
    * z-normalized distance derives from QT plus precomputed window
    * moments: d²(i,j) = 2m·(1 − (QT − m·μᵢμⱼ)/(m·σᵢσⱼ)). Total work
    * O(n²) with O(n) memory per series — the m-factor drops out, and the
    * inner loop is a cache-local array walk instead of a shuffle.
    *
    * A constant window (σ = 0) takes the all-zeros z-vector (the exact
    * form's σ-floor discipline in the limit): distance 0 to other
    * constant windows, √m to any non-constant one (a population
    * z-vector has Σz² = m).
    *
    * Returns per window start i: (nearest non-overlapping neighbor index,
    * z-normalized Euclidean distance), exclusion zone `excl` (no j with
    * |j − i| < excl is a candidate). */
  def stompKernel(vals: Array[Double], m: Int, excl: Int): Array[(Int, Double)] = {
    val n = vals.length - m + 1
    require(n >= 1, s"series shorter than window: ${vals.length} < $m")
    // window moments from prefix sums — O(n)
    val mu = new Array[Double](n)
    val sig = new Array[Double](n)
    var s1 = 0.0; var s2 = 0.0
    var k = 0
    while (k < vals.length) {
      s1 += vals(k); s2 += vals(k) * vals(k)
      if (k >= m) { s1 -= vals(k - m); s2 -= vals(k - m) * vals(k - m) }
      if (k >= m - 1) {
        val i = k - m + 1
        mu(i) = s1 / m
        sig(i) = math.sqrt(math.max(s2 / m - mu(i) * mu(i), 0.0))
      }
      k += 1
    }
    val bestD2 = Array.fill(n)(Double.PositiveInfinity)
    val bestJ = Array.fill(n)(-1)
    def offer(i: Int, j: Int, d2: Double): Unit =
      if (d2 < bestD2(i) || (d2 == bestD2(i) && j < bestJ(i))) {
        bestD2(i) = d2; bestJ(i) = j
      }
    var off = math.max(excl, 1)
    while (off < n) {
      // head of the diagonal: one direct dot product, then the recurrence
      var qt = 0.0
      var t = 0
      while (t < m) { qt += vals(t) * vals(t + off); t += 1 }
      var i = 0
      while (i + off < n) {
        val j = i + off
        if (i > 0) qt += vals(i + m - 1) * vals(j + m - 1) - vals(i - 1) * vals(j - 1)
        val d2 =
          if (sig(i) == 0.0 && sig(j) == 0.0) 0.0
          else if (sig(i) == 0.0 || sig(j) == 0.0) m.toDouble
          else {
            val corr = (qt - m * mu(i) * mu(j)) / (m * sig(i) * sig(j))
            math.max(2.0 * m * (1.0 - corr), 0.0)
          }
        offer(i, j, d2); offer(j, i, d2)
        i += 1
      }
      off += 1
    }
    Array.tabulate(n)(i => (bestJ(i), math.sqrt(bestD2(i))))
  }

  /** The distributed face of [[stompKernel]]: matrix profile per series
    * key over a (key, ord, value) relation. One shuffle groups each key's
    * points; the kernel then runs the diagonal recurrence in-memory per
    * key — `flatMapGroups` is exactly the true-recurrence boundary the
    * repo reserves it for. 100 TB shape: parallelism = series keys (the
    * panel axis that actually grows), per-key memory = O(n) doubles — a
    * year of minutely points is ~4 MB; series beyond single-task memory
    * need the tiled AB-join STAMP variant, which this API deliberately
    * leaves behind a bigger machine. */
  def matrixProfileStomp(df: DataFrame, keyCol: String, ordCol: String,
                         valCol: String, m: Int, excl: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col(keyCol).cast("string"), col(ordCol).cast("long"),
        col(valCol).cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val pts = it.toArray.sortBy(_._2)
        val vals = pts.map(_._3)
        if (vals.length < m) Iterator.empty
        else stompKernel(vals, m, excl).iterator.zipWithIndex.map {
          case ((j, dist), i) => (key, i.toLong, j.toLong, dist)
        }
      }
      .toDF(keyCol, "i", "nn", "dist")
  }

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q_ts_matrix_profile", qTsMatrixProfile, Some(
      "WITH bg AS (SELECT unnest(range(120)) b), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "cnt AS (SELECT event_type et, CAST(datediff('hour', TIMESTAMP '2024-01-01', date_trunc('hour', ts)) // 6 AS BIGINT) cb, " +
        "CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "se AS (SELECT ty.et, CAST(bg.b AS BIGINT) b, coalesce(cnt.c, 0) v " +
        "FROM ty CROSS JOIN bg LEFT JOIN cnt ON cnt.et = ty.et AND cnt.cb = bg.b), " +
        "ks AS (SELECT CAST(unnest(range(8)) AS BIGINT) k), " +
        "w AS (SELECT se.et, se.b - ks.k i, ks.k, se.v FROM se CROSS JOIN ks " +
        "WHERE se.b - ks.k >= 0 AND se.b - ks.k <= 112), " +
        "st AS (SELECT et, i, round(CAST(sum(v) AS DOUBLE) / 8, 6) mu, " +
        "round(sqrt(greatest((CAST(sum(v * v) AS DOUBLE) - CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE) / 8) / 8, 0.0) + 0.000001), 6) sd " +
        "FROM w GROUP BY 1, 2), " +
        "z AS (SELECT w.et, w.i, w.k, CAST(round(round((CAST(w.v AS DOUBLE) - st.mu) / st.sd, 6) * 1000000, 0) AS BIGINT) zl " +
        "FROM w JOIN st ON st.et = w.et AND st.i = w.i), " +
        "p AS (SELECT a.et, a.i ia, b.i ib, sum((a.zl - b.zl) * (a.zl - b.zl)) d2l " +
        "FROM z a JOIN z b ON b.et = a.et AND b.k = a.k AND b.i >= a.i + 4 GROUP BY 1, 2, 3), " +
        "bo AS (SELECT et, ia i, ib j, d2l FROM p UNION ALL SELECT et, ib, ia, d2l FROM p), " +
        "r AS (SELECT et, i, j, d2l, row_number() OVER (PARTITION BY et, i ORDER BY d2l, j) rn FROM bo) " +
        "SELECT et event_type, i, j AS nn, round(sqrt(CAST(d2l AS DOUBLE)) / 1000000, 6) dist " +
        "FROM r WHERE rn = 1 ORDER BY 1, 2")),
    ("q_ts_series_dist", qTsSeriesDist, Some(
      s"WITH grid AS ($GRID), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) ah, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, grid.h, coalesce(hc.c, 0) c FROM ty CROSS JOIN grid " +
        "LEFT JOIN hc ON hc.et = ty.et AND hc.ah = grid.h), " +
        "j AS (SELECT a.et et_a, b.et et_b, a.c ca, b.c cb FROM p a JOIN p b ON b.h = a.h AND a.et < b.et) " +
        "SELECT et_a, et_b, CAST(sum(abs(ca - cb)) AS BIGINT) l1, " +
        "round(sqrt(CAST(sum((ca - cb) * (ca - cb)) AS DOUBLE)), 6) l2 " +
        "FROM j GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_ts_xcorr_lag", qTsXcorrLag, Some(
      s"WITH grid AS ($GRID), " +
        "agg AS (SELECT date_trunc('hour', ts) ah, " +
        "CAST(count(*) FILTER (event_type = 'click') AS BIGINT) ax, " +
        "CAST(count(*) FILTER (event_type = 'view') AS BIGINT) ay FROM events GROUP BY 1), " +
        "g AS (SELECT h, coalesce(ax, 0) x, coalesce(ay, 0) y FROM grid LEFT JOIN agg ON ah = h), " +
        "p AS (" +
        (0 to 6).map(l => s"SELECT $l lg, x, lead(y, $l) OVER (ORDER BY h) yl FROM g")
          .mkString(" UNION ALL ") + "), " + corrTail)),
    ("q_ts_acf", qTsAcf, Some(
      s"WITH grid AS ($GRID), " +
        "agg AS (SELECT date_trunc('hour', ts) ah, CAST(count(*) AS BIGINT) ax FROM events GROUP BY 1), " +
        "g AS (SELECT h, coalesce(ax, 0) x FROM grid LEFT JOIN agg ON ah = h), " +
        "p AS (" +
        (1 to 24).map(l => s"SELECT $l lg, x, lead(x, $l) OVER (ORDER BY h) yl FROM g")
          .mkString(" UNION ALL ") + "), " + corrTail)),
    ("q_ts_vwap", qTsVwap, Some(
      "WITH e AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) dday, value, " +
        "CAST(json_extract(props, '$.k') AS BIGINT) k FROM events) " +
        "SELECT event_type, dday, CAST(count(*) AS BIGINT) n, CAST(sum(k) AS BIGINT) vol, " +
        "round(round(sum(value * k), 8) / CAST(sum(k) AS BIGINT), 6) vwap " +
        "FROM e GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_ts_m4", qTsM4, Some(
      "WITH e AS (SELECT event_type, epoch_us(ts) // 14400000000 b, ts, event_id, value FROM events), " +
        "w AS (SELECT event_type, b, value, " +
        "row_number() OVER (PARTITION BY event_type, b ORDER BY ts, event_id) rn, " +
        "count(*) OVER (PARTITION BY event_type, b) cnt FROM e) " +
        "SELECT event_type, CAST(b AS BIGINT) b, CAST(max(cnt) AS BIGINT) n, " +
        "min(value) vmin, max(value) vmax, " +
        "max(CASE WHEN rn = 1 THEN value END) vopen, max(CASE WHEN rn = cnt THEN value END) vclose " +
        "FROM w GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_ts_decay_topk", qTsDecayTopk, Some(
      "WITH w AS (SELECT user_id, CAST(1 AS DOUBLE) / (1::BIGINT << " +
        "CAST((epoch_us(TIMESTAMP '2024-01-31 00:00:00') - epoch_us(ts)) // 86400000000 AS INTEGER)) wt " +
        "FROM events) " +
        "SELECT user_id, CAST(count(*) AS BIGINT) n_events, sum(wt) score " +
        "FROM w GROUP BY 1 ORDER BY score DESC, user_id LIMIT 20")),
    ("q_ts_holt_winters", qTsHoltWinters, Some(
      s"WITH RECURSIVE grid AS ($GRID), " +
        "types AS (SELECT DISTINCT event_type FROM events), " +
        "agg AS (SELECT event_type aet, date_trunc('hour', ts) ah, round(sum(value), 6) asv " +
        "FROM events GROUP BY 1, 2), " +
        "g AS (SELECT t.event_type, grid.h, coalesce(asv, CAST(0 AS DOUBLE)) sv " +
        "FROM grid CROSS JOIN types t LEFT JOIN agg ON ah = grid.h AND aet = t.event_type), " +
        "hm AS (SELECT event_type, CAST(extract(hour FROM h) AS BIGINT) hod, " +
        "round(round(sum(sv), 8) / count(*), 6) shod FROM g GROUP BY 1, 2), " +
        "seq AS (SELECT g.event_type, round(g.sv - hm.shod, 6) x, " +
        "CAST(row_number() OVER (PARTITION BY g.event_type ORDER BY g.h) AS BIGINT) i, " +
        "CAST(count(*) OVER (PARTITION BY g.event_type) AS BIGINT) n " +
        "FROM g JOIN hm ON hm.event_type = g.event_type AND hm.hod = extract(hour FROM g.h)), " +
        "rec AS (" +
        "SELECT s2.event_type, s2.i, s2.n, s2.x AS l, s2.x - s1.x AS b " +
        "FROM seq s2 JOIN seq s1 ON s1.event_type = s2.event_type AND s1.i = 1 WHERE s2.i = 2 " +
        "UNION ALL " +
        "SELECT s.event_type, s.i, s.n, " +
        "0.5::DOUBLE * s.x + 0.5::DOUBLE * (r.l + r.b), " +
        "0.3::DOUBLE * ((0.5::DOUBLE * s.x + 0.5::DOUBLE * (r.l + r.b)) - r.l) + 0.7::DOUBLE * r.b " +
        "FROM rec r JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1) " +
        "SELECT r.event_type, round(l, 6) lvl, round(b, 6) trend, round(l + b + h0.shod, 6) fc1 " +
        "FROM rec r JOIN hm h0 ON h0.event_type = r.event_type AND h0.hod = 0 " +
        "WHERE r.i = r.n ORDER BY r.event_type")),
    ("q_ts_interval_merge", qTsIntervalMerge, Some(
      "WITH iv AS (SELECT event_type, event_id, ts - INTERVAL 30 MINUTE s, ts + INTERVAL 30 MINUTE e " +
        "FROM events WHERE value > 100.0), " +
        "mk AS (SELECT event_type, event_id, s, e, " +
        "max(e) OVER (PARTITION BY event_type ORDER BY s, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pmax FROM iv), " +
        "isl AS (SELECT event_type, s, e, " +
        "CAST(sum(CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY event_type ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) gid FROM mk) " +
        "SELECT event_type, gid, min(s) w_start, max(e) w_end, CAST(count(*) AS BIGINT) n_events, " +
        "CAST(date_diff('second', min(s), max(e)) AS BIGINT) dur_s " +
        "FROM isl GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_join_interval_overlap", qJoinIntervalOverlap, Some(
      "WITH marked AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE OR lag(ts) OVER " +
        "(PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END new_s FROM events), " +
        "sess0 AS (SELECT user_id, ts, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) sid FROM marked), " +
        "sess AS (SELECT user_id, sid, min(ts) s_start, max(ts) s_end FROM sess0 GROUP BY 1, 2), " +
        "iv AS (SELECT event_id, ts - INTERVAL 30 MINUTE s, ts + INTERVAL 30 MINUTE e " +
        "FROM events WHERE value > 100.0 AND event_type = 'error'), " +
        "mk AS (SELECT event_id, s, e, max(e) OVER (ORDER BY s, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pmax FROM iv), " +
        "isl AS (SELECT s, e, CAST(sum(CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END) " +
        "OVER (ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) gid FROM mk), " +
        "win AS (SELECT gid, min(s) w_start, max(e) w_end FROM isl GROUP BY 1) " +
        "SELECT user_id, sid, gid, " +
        "CAST(date_diff('second', greatest(s_start, w_start), least(s_end, w_end)) AS BIGINT) ov_s " +
        "FROM sess JOIN win ON s_start < w_end AND w_start < s_end " +
        "ORDER BY user_id, sid, gid")),
    ("q_ts_rolling_corr", qTsRollingCorr, Some(
      s"WITH grid AS ($GRID), " +
        "agg AS (SELECT date_trunc('hour', ts) ah, " +
        "CAST(count(*) FILTER (event_type = 'click') AS BIGINT) ax, " +
        "CAST(count(*) FILTER (event_type = 'view') AS BIGINT) ay FROM events GROUP BY 1), " +
        "g AS (SELECT h, coalesce(ax, 0) x, coalesce(ay, 0) y FROM grid LEFT JOIN agg ON ah = h), " +
        "w AS (SELECT h, CAST(count(*) OVER f AS BIGINT) np, " +
        "CAST(sum(x) OVER f AS BIGINT) sx, CAST(sum(y) OVER f AS BIGINT) sy, " +
        "CAST(sum(x*y) OVER f AS BIGINT) sxy, CAST(sum(x*x) OVER f AS BIGINT) sxx, " +
        "CAST(sum(y*y) OVER f AS BIGINT) syy FROM g " +
        "WINDOW f AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
        "SELECT h, round(CAST(np*sxy - sx*sy AS DOUBLE) / " +
        "(sqrt(CAST(np*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(np*syy - sy*sy AS DOUBLE))), 6) r " +
        "FROM w WHERE np = 24 AND np*sxx - sx*sx > 0 AND np*syy - sy*sy > 0 ORDER BY h")),
    ("q_ts_mad", qTsMad, Some(
      "WITH med AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) dday, " +
        "round(quantile_cont(value, 0.5), 4) med, CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2), " +
        "dev AS (SELECT e.event_type, m.dday, m.med, m.n, abs(e.value - m.med) ad " +
        "FROM events e JOIN med m ON m.event_type = e.event_type AND m.dday = CAST(date_trunc('day', e.ts) AS DATE)) " +
        "SELECT event_type, dday, n, med, round(quantile_cont(ad, 0.5), 4) mad " +
        "FROM dev GROUP BY event_type, dday, n, med ORDER BY event_type, dday")),
    ("q_ts_drift_psi", qTsDriftPsi, Some(
      "WITH e AS (SELECT event_type, least(CAST(floor(value / 50.0) AS BIGINT), 9) b, " +
        "CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08' THEN 1 ELSE 0 END in1, " +
        "CASE WHEN ts >= TIMESTAMP '2024-01-22' AND ts < TIMESTAMP '2024-01-29' THEN 1 ELSE 0 END in2 " +
        "FROM events), " +
        "bc AS (SELECT event_type, b, CAST(sum(in1) AS BIGINT) c1, CAST(sum(in2) AS BIGINT) c2 " +
        "FROM e WHERE in1 = 1 OR in2 = 1 GROUP BY 1, 2), " +
        "full_b AS (SELECT t.event_type, gb.b, coalesce(bc.c1, 0) c1, coalesce(bc.c2, 0) c2 " +
        "FROM (SELECT DISTINCT event_type FROM events) t " +
        "CROSS JOIN (SELECT unnest(range(0, 10)) b) gb " +
        "LEFT JOIN bc ON bc.event_type = t.event_type AND bc.b = gb.b), " +
        "tot AS (SELECT event_type, CAST(sum(c1) AS BIGINT) n1, CAST(sum(c2) AS BIGINT) n2 FROM full_b GROUP BY 1), " +
        "pq AS (SELECT f.event_type, f.b, t.n1, t.n2, " +
        "round(CAST(f.c1 + 1 AS DOUBLE) / (t.n1 + 10), 8) p, " +
        "round(CAST(f.c2 + 1 AS DOUBLE) / (t.n2 + 10), 8) q " +
        "FROM full_b f JOIN tot t ON t.event_type = f.event_type), " +
        "terms AS (SELECT event_type, n1, n2, round((p - q) * round(ln(p / q), 6), 8) term FROM pq) " +
        "SELECT event_type, n1, n2, round(round(sum(term), 8), 6) psi " +
        "FROM terms GROUP BY 1, 2, 3 ORDER BY 1")),
    ("q_ts_sax_motif", qTsSaxMotif, Some(
      s"WITH grid AS ($GRID), " +
        "types AS (SELECT DISTINCT event_type FROM events), " +
        "agg AS (SELECT event_type aet, date_trunc('hour', ts) ah, round(sum(value), 6) asv " +
        "FROM events GROUP BY 1, 2), " +
        "g AS (SELECT t.event_type, CAST(date_trunc('day', grid.h) AS DATE) dday, " +
        "CAST(extract(hour FROM grid.h) AS BIGINT) hod, coalesce(asv, CAST(0 AS DOUBLE)) sv " +
        "FROM grid CROSS JOIN types t LEFT JOIN agg ON ah = grid.h AND aet = t.event_type), " +
        "st AS (SELECT event_type, dday, round(sum(sv), 8) s1, round(sum(sv*sv), 8) s2 FROM g GROUP BY 1, 2), " +
        "stm AS (SELECT event_type, dday, round(s1 / 24, 6) mu, " +
        "round(sqrt(greatest((s2 - s1 * s1 / 24.0) / 24.0, CAST(0 AS DOUBLE))), 6) sd FROM st), " +
        "z AS (SELECT g.event_type, g.dday, g.hod // 3 seg, round((g.sv - stm.mu) / stm.sd, 6) z " +
        "FROM g JOIN stm ON stm.event_type = g.event_type AND stm.dday = g.dday WHERE stm.sd > 0), " +
        "paa AS (SELECT event_type, dday, seg, round(round(sum(z), 8) / 3, 6) p FROM z GROUP BY 1, 2, 3), " +
        "lt AS (SELECT event_type, dday, seg, CASE WHEN p < -0.67 THEN 'a' WHEN p < 0 THEN 'b' " +
        "WHEN p < 0.67 THEN 'c' ELSE 'd' END letter FROM paa), " +
        "w AS (SELECT event_type, dday, string_agg(letter, '' ORDER BY seg) word FROM lt GROUP BY 1, 2) " +
        "SELECT event_type, word, CAST(count(*) AS BIGINT) n_days, min(dday) first_day " +
        "FROM w GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_ts_periodogram", qTsPeriodogram, Some(
      "WITH h AS (SELECT event_type, CAST(datediff('hour', TIMESTAMP '2024-01-01', date_trunc('hour', ts)) AS BIGINT) hi, " +
        "CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2), " +
        "x AS (SELECT event_type, hi, n, unnest([24, 12, 8, 6]) p FROM h), " +
        s"t AS (SELECT event_type, CAST(p AS BIGINT) period, n, ${duckTrigCase(math.cos)} c, " +
        s"${duckTrigCase(math.sin)} s FROM x), " +
        "a AS (SELECT event_type, period, round(sum(n*c), 6) a6, round(sum(n*s), 6) b6 FROM t GROUP BY 1, 2) " +
        "SELECT event_type, period, a6, b6, round(a6*a6 + b6*b6, 2) power FROM a ORDER BY 1, 2")),
    ("q_ts_haar_energy", qTsHaarEnergy, Some(
      "WITH hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) cn FROM events GROUP BY 1, 2), " +
        "pf AS (SELECT et, CAST(datediff('hour', TIMESTAMP '2024-01-01', h) AS BIGINT) x, cn FROM hc " +
        "WHERE datediff('hour', TIMESTAMP '2024-01-01', h) >= 0 AND datediff('hour', TIMESTAMP '2024-01-01', h) < 512), " +
        "lv AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) lv), " +
        "e AS (SELECT pf.et, lv.lv, CAST((1 << lv.lv) AS BIGINT) bs, pf.x // (1 << lv.lv) blk, " +
        "CASE WHEN (pf.x % (1 << lv.lv)) * 2 < (1 << lv.lv) THEN pf.cn ELSE -pf.cn END sc " +
        "FROM pf CROSS JOIN lv), " +
        "co AS (SELECT et, lv, bs, blk, CAST(sum(sc) AS BIGINT) dc FROM e GROUP BY 1, 2, 3, 4) " +
        "SELECT et event_type, lv AS \"level\", CAST(512 // bs AS BIGINT) n_coef, " +
        "round(CAST(sum(dc * dc) AS DOUBLE) / bs, 6) energy " +
        "FROM co GROUP BY et, lv, bs ORDER BY 1, 2")),
    ("q_ts_rolling_median", qTsRollingMedian, Some(
      s"WITH grid AS ($GRID), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, grid.h, CAST(coalesce(hc.c, 0) AS BIGINT) c " +
        "FROM ty CROSS JOIN grid LEFT JOIN hc ON hc.et = ty.et AND hc.h = grid.h), " +
        "w AS (SELECT et, h, " +
        "CAST(count(*) OVER wf AS BIGINT) wn, " +
        "quantile_cont(c, 0.5) OVER wf med, " +
        "quantile_cont(c, 0.25) OVER wf q1, " +
        "quantile_cont(c, 0.75) OVER wf q3 FROM p " +
        "WINDOW wf AS (PARTITION BY et ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)) " +
        "SELECT et event_type, h, round(med, 6) med, round(q3 - q1, 6) iqr " +
        "FROM w WHERE wn = 24 ORDER BY 1, 2")),
  )
}
