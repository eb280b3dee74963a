package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hypothesis-test tier — the classical statistical tests an analyst
  * runs AFTER the descriptive operators (ACF, PSI, z-test) have surfaced
  * a signal: is this series white noise (Ljung–Box), do two samples come
  * from the same distribution (Kolmogorov–Smirnov, Mann–Whitney), are
  * two categoricals independent (chi-square / Cramér's V)? All public
  * textbook formulations (Ljung & Box 1978; Kolmogorov 1933/Smirnov
  * 1948; Mann & Whitney 1947; Pearson 1900).
  *
  * Determinism (SURVEY §2.0): every statistic is assembled from EXACT
  * integer moments (counts, rank sums, tie terms) with the division
  * performed ONCE in double at the end, mirrored operation-for-operation
  * in the DuckDB oracle; per-lag / per-cell terms round at 9–12 dp so
  * their sums are exact multiples of the quantum (order-free), then the
  * final statistic rounds at 6 dp through [[Num.roundd]].
  *
  * Scale theme: Ljung–Box rides the POST-aggregate ≤types×720 hourly
  * panel (raw scan = one hash aggregate); chi-square reduces to a
  * types×7 cell grid with broadcast marginals; KS and Mann–Whitney
  * collapse the scan to a per-distinct-value rollup and take their
  * global prefix counts through [[Rank.withGlobalOrder]] — the
  * range-partitioned TeraSort path — so no single-partition window
  * appears at any size. Integer-moment bounds: the long products here
  * (n²·Σxy, n1·cum2, Σc1·2cum) stay exact while n ≲ 1e9 pooled rows
  * per tested pair; beyond that the moment columns move to DecimalType.
  */
object Stats {
  type Q = (SparkSession, String) => DataFrame

  /** Gapless per-type hourly count panel (et, x, c) — the q_ts_gapfill
    * grid; absent hours are real zeros (see Signal.hourGrid). */
  private def hourlyPanel(s: SparkSession, d: String): DataFrame = {
    val grid = s.sql(
      "SELECT explode(sequence(TIMESTAMP_NTZ '2024-01-01 00:00:00', TIMESTAMP_NTZ '2024-01-30 23:00:00', INTERVAL 1 HOUR)) AS h")
    val types = Tables.events(s, d).select(col("event_type").as("et")).distinct()
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    // r18: a rotate pin here was measured and REJECTED (cross_corr
    // 0.28 → 0.46 s while ar2_fit −0.1 and ljung_box neutral — net
    // negative): the lag-join branches overlap inside one job at sf0.1.
    types.crossJoin(broadcast(grid))
      .join(hourly, Seq("et", "h"), "left")
      .select(col("et"),
        expr("timestampdiff(HOUR, TIMESTAMP_NTZ '2024-01-01 00:00:00', h)")
          .cast("long").as("x"),
        coalesce(col("c"), lit(0L)).as("c"))
  }

  /** Per-distinct-value two-sample rollup of `events.value` for the
    * click/view pair: (value, c1, c2) — the scan-collapsing step shared
    * by KS and Mann–Whitney. Distinct doubles group identically on both
    * engines because both read the same parquet bits. */
  private def pooledRollup(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .groupBy("value")
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))

  /** Ljung–Box portmanteau per event_type over the hourly count panel,
    * lags 1..24: r_k from exact integer moments (numerator and
    * denominator both scaled by n² so every term is a long), then the
    * cumulative Q_k = n(n+2)·Σ_{j≤k} r_j²/(n−j). Each r rounds at 6 dp
    * and each summand at 12 dp, so the 24-term running sum is an exact
    * multiple of 1e-12 — order-free — before the final 6 dp round.
    * A zero-variance (constant) series yields NULL r and Q by explicit
    * guard, not divide-by-zero. The lag fan-out is a (et, hour)-keyed
    * self-join of the ≤types×720 panel × 24 lags — post-aggregate. */
  val qStatLjungBox: Q = (s, d) => {
    val p = hourlyPanel(s, d)
    val ks = s.sql("SELECT explode(sequence(1, 24)) AS k").select(col("k").cast("long").as("k"))
    val lagged = p.crossJoin(broadcast(ks))
      .withColumn("xl", col("x") - col("k"))
      .join(p.select(col("et").as("et2"), col("x").as("xl2"), col("c").as("cl")),
        col("et") === col("et2") && col("xl") === col("xl2"))
      .groupBy("et", "k")
      .agg(sum(col("c") * col("cl")).as("sxy"), sum("c").as("ak"), sum("cl").as("bk"))
    val g = p.groupBy(col("et").as("get"))
      .agg(count(lit(1)).as("n"), sum("c").as("sc"), sum(col("c") * col("c")).as("ss"))
    val den = col("n") * col("n") * col("ss") - col("n") * col("sc") * col("sc")
    val num = col("n") * col("n") * col("sxy") -
      col("n") * col("sc") * (col("ak") + col("bk")) +
      (col("n") - col("k")) * col("sc") * col("sc")
    val r = lagged.join(broadcast(g), col("et") === col("get"))
      .select(col("et"), col("k"), col("n"),
        when(den === 0L, lit(null))
          .otherwise(Num.roundd(num.cast("double") / den.cast("double"), 6)).as("r"))
    val w = Window.partitionBy("et").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.withColumn("term", Num.roundd(col("r") * col("r") / (col("n") - col("k")).cast("double"), 12))
      .select(col("et").as("event_type"), col("k"), col("r"),
        Num.roundd((col("n") * (col("n") + 2L)).cast("double") * sum("term").over(w), 6).as("q_lb"))
      .orderBy("event_type", "k")
  }

  /** Two-sample Kolmogorov–Smirnov D between the click and view value
    * distributions: D = max_v |F1(v) − F2(v)| over the pooled distinct
    * values, with the max located at the SMALLEST value on ties. The
    * ECDF numerators are global running counts over the value-sorted
    * rollup — the Rank.withGlobalOrder path, no single-partition
    * window — and D's argmax compares the exact long |n2·cum1 − n1·cum2|
    * (scaled by n1·n2), dividing once at the end. */
  val qStatKs: Q = (s, d) => {
    val roll = pooledRollup(s, d)
    // n1/n2 come from the rank machinery's partition profile — no second
    // rollup aggregation (VERDICT r13 missing #3)
    val (ranked, _, tots) = Rank.withGlobalOrderStats(roll, Seq(col("value")), "rk",
      Seq(("c1", "cum1"), ("c2", "cum2")))
    val (n1, n2) = (tots(0), tots(1))
    ranked
      .select(col("value"),
        abs(lit(n2) * col("cum1") - lit(n1) * col("cum2")).as("dnum"))
      .orderBy(col("dnum").desc, col("value").asc)
      .limit(1)
      .select(
        Num.roundd(col("dnum").cast("double") / lit(n1 * n2).cast("double"), 6).as("ks_d"),
        col("value").as("at_value"), lit(n1).as("n1"), lit(n2).as("n2"))
  }

  /** Mann–Whitney U (normal approximation, tie-corrected, continuity-
    * corrected) for click vs view values. Rank sums use midranks over
    * the pooled distinct-value rollup: 2·R1 = Σ_v c1·(2·(cum_t − t) +
    * t + 1) is an exact long via the same global running count, the tie
    * term Σ(t³−t) is exact, and z divides once:
    *   z = (2U1 − 2μ − sign) / (2·σ),  σ² = n1n2/12·[(n+1) − T/(n(n−1))].
    * The double expression tree is mirrored token-for-token in the
    * oracle so IEEE evaluation order matches. */
  val qStatMannWhitney: Q = (s, d) => {
    val roll = pooledRollup(s, d).withColumn("t", col("c1") + col("c2"))
    val ranked = Rank.withGlobalOrder(roll, Seq(col("value")), "rk", Seq(("t", "cumt")))
    val a = ranked.agg(
      sum(col("c1") * (lit(2L) * (col("cumt") - col("t")) + col("t") + 1L)).as("r2"),
      sum("c1").as("n1"), sum("c2").as("n2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie"))
    // 2U1 = 2·n1·n2 + n1(n1+1) − 2R1 ; d2 = 2U1 − 2μ = n1·n2 + n1(n1+1) − 2R1
    val u2 = lit(2L) * col("n1") * col("n2") + col("n1") * (col("n1") + 1L) - col("r2")
    val d2 = u2 - col("n1") * col("n2")
    val n = col("n1") + col("n2")
    val sigma = sqrt(
      (col("n1") * col("n2")).cast("double") *
        ((n + 1L).cast("double") - col("tie").cast("double") / (n * (n - 1L)).cast("double")) /
        lit(12.0))
    a.select(
      Num.roundd(u2.cast("double") / lit(2.0), 1).as("u1"),
      when(d2 === 0L, lit(0.0))
        .otherwise(Num.roundd((d2.cast("double") - signum(d2.cast("double"))) / (lit(2.0) * sigma), 6))
        .as("z"),
      col("n1"), col("n2"))
  }

  /** Pearson chi-square test of independence between event_type and
    * ISO weekday over the full event scan, plus Cramér's V. Each cell
    * contributes ((O·N − R·C)/1)² / (N·R·C) with the difference exact in
    * longs before the one squaring in double; cells round at 9 dp so the
    * ≤types×7 sum is exact (every cell sits on the 1e-9 grid and the sum
    * stays far inside 2^53·1e-9 — order-free), then χ² and V round at
    * 6 dp. Zero-margin cells are excluded (the textbook convention —
    * their expected count is undefined).
    *
    * Round 15 (PlanAudit job-count pass): ONE hash aggregate reduces the
    * scan to the ≤ types×7 observed grid, which is collected and folded
    * driver-side — marginals, totals, cells, χ², V — exactly the
    * qStatMutualInfo device; the previous shape paid three extra
    * broadcast-build jobs and a second scan for grid-sized arithmetic.
    * Scalar cell math replicates the column form: exact long products
    * (BigInt-guarded against silent wrap — the column form would have
    * raised under ANSI), one double divide, Num.rounddD at 9. */
  val qStatChi2: Q = (s, d) => {
    val obs = Tables.events(s, d)
      .select(col("event_type").as("et"), expr("weekday(ts)").cast("long").as("dw"))
      .groupBy("et", "dw").agg(count(lit(1)).as("o"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(obs.length <= 10000,
      s"qStatChi2: observed grid ${obs.length} exceeds the driver-fold bound")
    // the bound is types×7 cells: every gated corpus has single-digit
    // event_type cardinality, so 10000 cells (~1428 types) is two orders
    // of headroom; above it the right move is the DecimalType column
    // form, not a bigger collect
    if (obs.isEmpty) {
      // empty scan: mirror the pre-r15 column form, which emitted nulls
      // (0/0 folds would otherwise surface chi2=0, cramers_v=NaN)
      s.range(1).select(
        lit(null).cast("double").as("chi2"),
        lit(null).cast("long").as("dof"),
        lit(null).cast("double").as("cramers_v"),
        lit(0L).as("n"))
        .orderBy("chi2")
    } else {
    val ets = obs.map(_._1).distinct.sorted
    val byCell = obs.map(c => ((c._1, c._2), c._3)).toMap
    val full = for (et <- ets; dw <- 0L to 6L)
      yield (et, dw, byCell.getOrElse((et, dw), 0L))
    val rt = full.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val ct = full.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val nn = full.map(_._3).sum
    def toLongExact(b: BigInt, what: String): Long = {
      require(b.isValidLong, s"qStatChi2: $what overflows Long — the column " +
        "form would have raised under ANSI; move the products to DecimalType")
      b.toLong
    }
    val kept = full.filter { case (et, dw, _) => rt(et) > 0L && ct(dw) > 0L }
    val x2raw = kept.map { case (et, dw, o) =>
      val dd = toLongExact(BigInt(o) * nn - BigInt(rt(et)) * ct(dw), "O·N − R·C").toDouble
      val den = toLongExact(BigInt(nn) * rt(et) * ct(dw), "N·R·C").toDouble
      Num.rounddD(dd * dd / den, 9)
    }.sum
    val ntypes = kept.map(_._1).distinct.size.toLong
    val ncols = kept.map(_._2).distinct.size.toLong
    s.range(1).select(
        Num.roundd(lit(x2raw), 6).as("chi2"),
        lit((ntypes - 1L) * (ncols - 1L)).as("dof"),
        Num.roundd(sqrt(lit(x2raw) / lit(nn * math.min(ntypes - 1L, ncols - 1L)).cast("double")), 6).as("cramers_v"),
        lit(nn).as("n"))
      .orderBy("chi2")
    }
  }

  /** Mutual information between event_type and ISO weekday, with the
    * normalized MI (NMI = MI/√(H_row·H_col)) — the information-theoretic
    * sibling of [[qStatChi2]] a feature-selection pass ranks dimensions
    * by. ONE hash aggregate reduces the scan to the ≤ vocab·7 observed
    * cell grid; marginals, totals and all three term sums fold
    * driver-side over the collected grid (bounded manifest). Each cell
    * term is (o/n)·ln(o·n/(rt·ct)) on identical long operands (o = 0
    * cells drop — the 0·ln 0 := 0 limit); term sums round at 6 dp after
    * summation over the tiny grid (the chi-square discipline —
    * sub-1e-12 drift cannot reach the 6th decimal). Zero-entropy
    * marginals guard NMI. */
  val qStatMutualInfo: Q = (s, d) => {
    // ONE aggregate over the scan (VERDICT r13 missing #2): the
    // (et, weekday) cell grid is the sufficient statistic for MI, both
    // marginal entropies and NMI. Marginals/totals/term sums fold
    // DRIVER-SIDE over the collected ≤ vocab·7 grid (the bounded-manifest
    // discipline, q_geo_grid_cluster precedent) instead of re-deriving
    // four aggregate subtrees from the same scan. Term arithmetic is
    // operand-identical to the oracle: exact long products inside each
    // log, one division per term, summed in sorted cell order.
    val cells = Tables.events(s, d)
      .select(col("event_type").as("et"), expr("weekday(ts)").cast("long").as("dw"))
      .groupBy("et", "dw").agg(count(lit(1)).as("o"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(c => (c._1, c._2))
    require(cells.length <= 10000,
      s"qStatMutualInfo: cell grid ${cells.length} exceeds the driver-fold bound")
    val nn = cells.map(_._3).sum
    val rt = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val ct = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val miraw = cells.map { case (et, dw, o) =>
      (o.toDouble / nn) * math.log((o * nn).toDouble / (rt(et) * ct(dw)).toDouble)
    }.sum
    val hrow = rt.toSeq.sortBy(_._1)
      .map { case (_, r) => -(r.toDouble / nn) * math.log(r.toDouble / nn) }.sum
    val hcol = ct.toSeq.sortBy(_._1)
      .map { case (_, c) => -(c.toDouble / nn) * math.log(c.toDouble / nn) }.sum
    s.range(1).select(Num.roundd(lit(miraw), 6).as("mi"),
      Num.roundd(lit(hrow), 6).as("h_row"),
      Num.roundd(lit(hcol), 6).as("h_col"),
      when(lit(hrow) > 0.0 && lit(hcol) > 0.0,
        Num.roundd(lit(miraw) / sqrt(lit(hrow) * lit(hcol)), 6)).as("nmi"),
      lit(nn).as("n"))
  }

  /** Order-1 vs order-2 entropy of the per-user event-type sequence:
    * the unigram entropy H(W), the conditional bigram entropy H(W|V)
    * from the user-local transition counts (the [[Graphs]] edge device —
    * pairs never chain across users), the information gain between
    * them ("does knowing the previous event help predict the next"),
    * and the perplexities exp(H) a language-modeling reader expects.
    * All counts exact longs from one keyed window pass collapsed to a
    * single vocabulary-bounded transition table; each entropy is a sum
    * of (c/N)·ln terms over ≤ vocab² rows rounded at 6 dp (chi-square
    * discipline); perplexities exponentiate the ROUNDED entropy so both
    * engines feed exp the identical double. */
  val qSeqEntropy: Q = (s, d) => {
    // ONE aggregate over the keyed-window pass (VERDICT r13 missing #2):
    // groupBy(v, nx) with nulls KEPT is the sufficient statistic —
    // unigram counts are its per-v sums (every token appears exactly
    // once as v), bigram/context/total counts are its non-null slices.
    // The vocab²+vocab table folds DRIVER-SIDE (bounded manifest, sorted
    // sum order) instead of six aggregate subtrees re-running the scan.
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val t = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("v"))
      .withColumn("nx", lead("v", 1).over(w))
      .groupBy("v", "nx").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
      .sortBy(c => (c._1, c._2.getOrElse("")))
    require(t.length <= 100000,
      s"qSeqEntropy: transition table ${t.length} exceeds the driver-fold bound")
    val n1 = t.map(_._3).sum
    val uni = t.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val big = t.collect { case (v, Some(nx), c) => (v, nx, c) }
    val n2 = big.map(_._3).sum
    val ctx = big.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val h1raw = uni.toSeq.sortBy(_._1)
      .map { case (_, c) => -(c.toDouble / n1) * math.log(c.toDouble / n1) }.sum
    val h2raw = big
      .map { case (v, _, c) => -(c.toDouble / n2) * math.log(c.toDouble / ctx(v)) }.sum
    s.range(1).select(lit(n1).as("n_tokens"), lit(n2).as("n_bigrams"),
      Num.roundd(lit(h1raw), 6).as("h_unigram"),
      Num.roundd(lit(h2raw), 6).as("h_cond_bigram"),
      Num.roundd(lit(h1raw) - lit(h2raw), 6).as("info_gain"),
      Num.roundd(exp(Num.roundd(lit(h1raw), 6)), 6).as("ppl_unigram"),
      Num.roundd(exp(Num.roundd(lit(h2raw), 6)), 6).as("ppl_bigram"))
  }

  /** Poisson-bootstrap confidence interval for the mean purchase value
    * — the resampling method that actually works at cluster scale
    * (resample weights are PER-ROW independent draws, so the "sample n
    * rows with replacement" coordination problem disappears; public
    * formulation: Chamandy, Muralidharan, Najmi & Naidu, "Estimating
    * uncertainty for massive data streams", Google TR 2012): each of
    * 32 replicates weights every row by a Poisson(1) draw derived from
    * ONE seeded md5 of event_id (VERDICT r13 wrong #4: hashing inside
    * the 32× explode paid 32 md5s/row) — the digest's two 60-bit halves
    * (h1, h2) give each replicate its uniform by pure integer mixing,
    * u_b = ((h1 + b·h2') mod 1e6 + ½)/1e6 with h2' = h2 mod 1000003, a
    * row-random stride: overflow-free (h1 < 2⁶⁰, b·h2' < 2²⁵, sum well
    * under 2⁶³) and mirrored op-for-op in the oracle — then the draw
    * maps through SIX fixed 6-dp CDF literals (no live exp() — the
    * Benford shared-constant discipline), and the replicate means'
    * spread gives the CI. Weighted sums are exact longs (w ≤ 6, cents
    * exact); each replicate mean is one division rounded at 6 dp; the
    * nearest-rank CI indexes the sorted 32-element mean list; se is
    * the sample stddev of 32 rounded means (round-6 absorbs the
    * 32-term order drift). Scale: the 32× fan-out feeds a map-side
    * combining hash aggregate keyed by replicate — linear, no
    * coordination, the exact shape the method was invented for. */
  val qStatBootstrapCi: Q = (s, d) => {
    val x = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), expr("cast(round(value * 100.0) as bigint)").as("cents"))
      // one digest per row, BEFORE the replicate fan-out
      .withColumn("__dig",
        md5(concat(lit("boot"), lit(":"), col("event_id").cast("string"))))
      .withColumn("h1", expr("cast(conv(substr(__dig, 1, 15), 16, 10) as bigint)"))
      .withColumn("h2",
        expr("pmod(cast(conv(substr(__dig, 16, 15), 16, 10) as bigint), 1000003)"))
      .drop("__dig")
    // r16: the ×32 replicate fan-out stays INSIDE one aggregate row-loop —
    // graft_boot_sums derives each replicate's Poisson weight and keeps
    // Σ w·cents / Σ w per replicate in a 64-long buffer (exact longs,
    // order-free; operand-identical u and CDF thresholds), so the
    // exchange carries 64 partial longs per partition instead of 32× the
    // corpus rows through explode + hash-agg machinery. (A transform()
    // HOF variant measured 4× WORSE than the explode — interpreted
    // lambda per element — hence the fused native.)
    val sums = x.agg(call_function("graft_boot_sums",
      col("h1"), col("h2"), col("cents"), lit(32)).as("bs"))
    val means = sums
      .select(explode(col("bs")).as("z"))
      .select(when(col("z.sw") > 0L, Num.roundd(
        col("z.swx").cast("double") / (col("z.sw") * 100L).cast("double"), 6)).as("m"))
      .filter(col("m").isNotNull)
    val full = x.agg(count(lit(1)).as("n"),
      Num.roundd(sum("cents").cast("double") / (count(lit(1)) * 100L).cast("double"), 6).as("mean_full"))
    means.agg(count(lit(1)).as("n_replicates"),
        sort_array(collect_list("m")).as("ms"),
        Num.roundd(avg("m"), 6).as("boot_mean"),
        Num.roundd(stddev_samp(col("m")), 6).as("se"))
      .crossJoin(broadcast(full))
      .select(col("n"), col("mean_full"), col("n_replicates"), col("boot_mean"), col("se"),
        expr("element_at(ms, cast(ceil(0.05 * n_replicates) as int))").as("ci_lo"),
        expr("element_at(ms, cast(ceil(0.95 * n_replicates) as int))").as("ci_hi"))
  }

  /** Lagged cross-correlation between the click and view hourly count
    * series, lags −24..+24: r(ℓ) = corr(a_t, b_{t+ℓ}) over the valid
    * overlap of the gapless 720-hour grid (n = 720 − |ℓ|) — the
    * lead/lag dependence scan behind "does traffic predict purchases
    * N hours later". All five moments per lag are exact longs over the
    * overlap; r is the textbook expression of those moments with ONE
    * division (identical tree both engines), zero-variance overlaps
    * → NULL. The lag fan-out is panel × 49 joined on the hour key —
    * post-aggregate, never event volume. */
  val qTsCrossCorr: Q = (s, d) => {
    val p = hourlyPanel(s, d)
    val a = p.filter(col("et") === "click").select(col("x"), col("c").as("ca"))
    val b = p.filter(col("et") === "view").select(col("x").as("xb"), col("c").as("cb"))
    val lags = s.sql("SELECT explode(sequence(-24, 24)) AS lag")
      .select(col("lag").cast("long").as("lag"))
    val m = a.crossJoin(broadcast(lags))
      .join(b, col("xb") === col("x") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n"), sum("ca").as("sa"), sum("cb").as("sb"),
        sum(col("ca") * col("cb")).as("sab"),
        sum(col("ca") * col("ca")).as("saa"),
        sum(col("cb") * col("cb")).as("sbb"))
    val num = m("n") * col("sab") - col("sa") * col("sb")
    val da = m("n") * col("saa") - col("sa") * col("sa")
    val db = m("n") * col("sbb") - col("sb") * col("sb")
    m.select(col("lag"), col("n"),
      when(da === 0L || db === 0L, lit(null))
        .otherwise(Num.roundd(
          num.cast("double") / sqrt(da.cast("double") * db.cast("double")), 6))
        .as("r"))
      .orderBy("lag")
  }

  /** AR(2) fit per event_type by Yule–Walker over the hourly panel:
    * the lag-1/lag-2 autocorrelations come from the SAME exact-integer
    * moment formula as Ljung–Box (each rounded at 6 dp), then
    *   φ1 = r1(1−r2)/(1−r1²),  φ2 = (r2−r1²)/(1−r1²),
    * and the innovation-variance ratio 1 − φ1·r1 − φ2·r2 — the
    * two-coefficient autoregressive model a capacity forecaster fits
    * before reaching for anything heavier. φ and the ratio are pure
    * double trees over the ROUNDED r's, mirrored token-for-token;
    * |r1| = 1 (perfectly linear series) guards to NULL. */
  val qTsAr2Fit: Q = (s, d) => {
    val p = hourlyPanel(s, d)
    val ks = s.sql("SELECT explode(sequence(1, 2)) AS k").select(col("k").cast("long").as("k"))
    val lagged = p.crossJoin(broadcast(ks))
      .withColumn("xl", col("x") - col("k"))
      .join(p.select(col("et").as("et2"), col("x").as("xl2"), col("c").as("cl")),
        col("et") === col("et2") && col("xl") === col("xl2"))
      .groupBy("et", "k")
      .agg(sum(col("c") * col("cl")).as("sxy"), sum("c").as("ak"), sum("cl").as("bk"))
    val g = p.groupBy(col("et").as("get"))
      .agg(count(lit(1)).as("n"), sum("c").as("sc"), sum(col("c") * col("c")).as("ss"))
    val den = col("n") * col("n") * col("ss") - col("n") * col("sc") * col("sc")
    val num = col("n") * col("n") * col("sxy") -
      col("n") * col("sc") * (col("ak") + col("bk")) +
      (col("n") - col("k")) * col("sc") * col("sc")
    val r = lagged.join(broadcast(g), col("et") === col("get"))
      .select(col("et"), col("k"),
        when(den === 0L, lit(null))
          .otherwise(Num.roundd(num.cast("double") / den.cast("double"), 6)).as("r"))
    val piv = r.groupBy("et").agg(
      max(when(col("k") === 1L, col("r"))).as("r1"),
      max(when(col("k") === 2L, col("r"))).as("r2"))
    val bad = col("r1").isNull || col("r2").isNull || abs(col("r1")) === 1.0
    val withPhi = piv.select(col("et"), col("r1"), col("r2"),
      when(bad, lit(null)).otherwise(Num.roundd(
        col("r1") * (lit(1.0) - col("r2")) / (lit(1.0) - col("r1") * col("r1")), 6)).as("phi1"),
      when(bad, lit(null)).otherwise(Num.roundd(
        (col("r2") - col("r1") * col("r1")) / (lit(1.0) - col("r1") * col("r1")), 6)).as("phi2"))
    withPhi.select(col("et").as("event_type"), col("r1"), col("r2"),
      col("phi1"), col("phi2"),
      when(col("phi1").isNull, lit(null)).otherwise(Num.roundd(
        lit(1.0) - col("phi1") * col("r1") - col("phi2") * col("r2"), 6)).as("innov_ratio"))
      .orderBy("event_type")
  }

  // ---- catalog ------------------------------------------------------------

  private val GRID =
    "SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h"

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q_stat_ljung_box", qStatLjungBox, Some(
      s"WITH g AS ($GRID), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, " +
        "CAST(coalesce(hc.c, 0) AS BIGINT) c FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "ks AS (SELECT CAST(unnest(range(1, 25)) AS BIGINT) k), " +
        "l AS (SELECT a.et, ks.k, sum(a.c * b.c) sxy, sum(a.c) ak, sum(b.c) bk " +
        "FROM p a CROSS JOIN ks JOIN p b ON b.et = a.et AND b.x = a.x - ks.k GROUP BY 1, 2), " +
        "gl AS (SELECT et, CAST(count(*) AS BIGINT) n, sum(c) sc, sum(c * c) ss FROM p GROUP BY 1), " +
        "r AS (SELECT l.et, l.k, gl.n, CASE WHEN gl.n * gl.n * gl.ss - gl.n * gl.sc * gl.sc = 0 THEN NULL " +
        "ELSE round(CAST(gl.n * gl.n * l.sxy - gl.n * gl.sc * (l.ak + l.bk) + (gl.n - l.k) * gl.sc * gl.sc AS DOUBLE) " +
        "/ CAST(gl.n * gl.n * gl.ss - gl.n * gl.sc * gl.sc AS DOUBLE), 6) END r FROM l JOIN gl ON gl.et = l.et), " +
        "t AS (SELECT et, k, n, r, round(r * r / CAST(n - k AS DOUBLE), 12) term FROM r) " +
        "SELECT et event_type, k, r, round(CAST(n * (n + 2) AS DOUBLE) * " +
        "sum(term) OVER (PARTITION BY et ORDER BY k), 6) q_lb FROM t ORDER BY 1, 2")),
    ("q_stat_ks", qStatKs, Some(
      "WITH roll AS (SELECT value, CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) c1, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) c2 " +
        "FROM events WHERE event_type IN ('click', 'view') GROUP BY 1), " +
        "c AS (SELECT value, CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) cum1, " +
        "CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) cum2 FROM roll), " +
        "t AS (SELECT CAST(sum(c1) AS BIGINT) n1, CAST(sum(c2) AS BIGINT) n2 FROM roll) " +
        "SELECT round(CAST(abs(t.n2 * c.cum1 - t.n1 * c.cum2) AS DOUBLE) / CAST(t.n1 * t.n2 AS DOUBLE), 6) ks_d, " +
        "c.value at_value, t.n1, t.n2 FROM c, t " +
        "ORDER BY abs(t.n2 * c.cum1 - t.n1 * c.cum2) DESC, c.value LIMIT 1")),
    ("q_stat_mannwhitney", qStatMannWhitney, Some(
      "WITH roll AS (SELECT value, CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) c1, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) c2 " +
        "FROM events WHERE event_type IN ('click', 'view') GROUP BY 1), " +
        "rr AS (SELECT value, c1, c2, c1 + c2 t, CAST(sum(c1 + c2) OVER (ORDER BY value) AS BIGINT) cumt FROM roll), " +
        "a AS (SELECT CAST(sum(c1 * (2 * (cumt - t) + t + 1)) AS BIGINT) r2, " +
        "CAST(sum(c1) AS BIGINT) n1, CAST(sum(c2) AS BIGINT) n2, " +
        "CAST(sum(t * t * t - t) AS BIGINT) tie FROM rr), " +
        "b AS (SELECT 2 * n1 * n2 + n1 * (n1 + 1) - r2 u2, " +
        "2 * n1 * n2 + n1 * (n1 + 1) - r2 - n1 * n2 d2, n1, n2, tie FROM a) " +
        "SELECT round(CAST(u2 AS DOUBLE) / 2, 1) u1, " +
        "CASE WHEN d2 = 0 THEN 0.0 ELSE round((CAST(d2 AS DOUBLE) - sign(CAST(d2 AS DOUBLE))) / " +
        "(2.0 * sqrt(CAST(n1 * n2 AS DOUBLE) * (CAST(n1 + n2 + 1 AS DOUBLE) - " +
        "CAST(tie AS DOUBLE) / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE)) / 12.0)), 6) END z, " +
        "n1, n2 FROM b")),
    ("q_stat_chi2", qStatChi2, Some(
      "WITH ev AS (SELECT event_type et, CAST(isodow(ts) - 1 AS BIGINT) dw FROM events), " +
        "obs AS (SELECT et, dw, CAST(count(*) AS BIGINT) o FROM ev GROUP BY 1, 2), " +
        "grid AS (SELECT ty.et, CAST(d.dw AS BIGINT) dw FROM (SELECT DISTINCT et FROM ev) ty " +
        "CROSS JOIN (SELECT unnest(range(7)) dw) d), " +
        "f AS (SELECT grid.et, grid.dw, coalesce(obs.o, 0) o FROM grid LEFT JOIN obs ON obs.et = grid.et AND obs.dw = grid.dw), " +
        "rt AS (SELECT et, sum(o) rt FROM f GROUP BY 1), " +
        "ct AS (SELECT dw, sum(o) ct FROM f GROUP BY 1), " +
        "nn AS (SELECT CAST(sum(o) AS BIGINT) nn FROM f), " +
        "cells AS (SELECT f.et, f.dw, nn.nn, " +
        "round(CAST(f.o * nn.nn - rt.rt * ct.ct AS DOUBLE) * CAST(f.o * nn.nn - rt.rt * ct.ct AS DOUBLE) " +
        "/ CAST(nn.nn * rt.rt * ct.ct AS DOUBLE), 9) cell " +
        "FROM f JOIN rt ON rt.et = f.et JOIN ct ON ct.dw = f.dw CROSS JOIN nn WHERE rt.rt > 0 AND ct.ct > 0) " +
        "SELECT round(sum(cell), 6) chi2, CAST((count(DISTINCT et) - 1) * (count(DISTINCT dw) - 1) AS BIGINT) dof, " +
        "round(sqrt(sum(cell) / CAST(max(nn) * least(count(DISTINCT et) - 1, count(DISTINCT dw) - 1) AS DOUBLE)), 6) cramers_v, " +
        "CAST(max(nn) AS BIGINT) n FROM cells ORDER BY 1")),
    ("q_ts_cross_corr", qTsCrossCorr, Some(
      s"WITH g AS ($GRID), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events " +
        "WHERE event_type IN ('click', 'view') GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, " +
        "CAST(coalesce(hc.c, 0) AS BIGINT) c FROM (SELECT 'click' et UNION ALL SELECT 'view') ty " +
        "CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "lg AS (SELECT CAST(unnest(range(-24, 25)) AS BIGINT) lag), " +
        "m AS (SELECT lg.lag, CAST(count(*) AS BIGINT) n, sum(a.c) sa, sum(b.c) sb, " +
        "sum(a.c * b.c) sab, sum(a.c * a.c) saa, sum(b.c * b.c) sbb " +
        "FROM (SELECT * FROM p WHERE et = 'click') a CROSS JOIN lg " +
        "JOIN (SELECT * FROM p WHERE et = 'view') b ON b.x = a.x + lg.lag GROUP BY 1) " +
        "SELECT lag, n, CASE WHEN n * saa - sa * sa = 0 OR n * sbb - sb * sb = 0 THEN NULL ELSE " +
        "round(CAST(n * sab - sa * sb AS DOUBLE) / " +
        "sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * sbb - sb * sb AS DOUBLE)), 6) END r " +
        "FROM m ORDER BY lag")),
    ("q_ts_ar2_fit", qTsAr2Fit, Some(
      s"WITH g AS ($GRID), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, " +
        "CAST(coalesce(hc.c, 0) AS BIGINT) c FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "ks AS (SELECT CAST(unnest(range(1, 3)) AS BIGINT) k), " +
        "l AS (SELECT a.et, ks.k, sum(a.c * b.c) sxy, sum(a.c) ak, sum(b.c) bk " +
        "FROM p a CROSS JOIN ks JOIN p b ON b.et = a.et AND b.x = a.x - ks.k GROUP BY 1, 2), " +
        "gl AS (SELECT et, CAST(count(*) AS BIGINT) n, sum(c) sc, sum(c * c) ss FROM p GROUP BY 1), " +
        "r AS (SELECT l.et, l.k, CASE WHEN gl.n * gl.n * gl.ss - gl.n * gl.sc * gl.sc = 0 THEN NULL " +
        "ELSE round(CAST(gl.n * gl.n * l.sxy - gl.n * gl.sc * (l.ak + l.bk) + (gl.n - l.k) * gl.sc * gl.sc AS DOUBLE) " +
        "/ CAST(gl.n * gl.n * gl.ss - gl.n * gl.sc * gl.sc AS DOUBLE), 6) END r FROM l JOIN gl ON gl.et = l.et), " +
        "pv AS (SELECT et, max(CASE WHEN k = 1 THEN r END) r1, max(CASE WHEN k = 2 THEN r END) r2 FROM r GROUP BY 1), " +
        "ph AS (SELECT et, r1, r2, " +
        "CASE WHEN r1 IS NULL OR r2 IS NULL OR abs(r1) = 1.0 THEN NULL ELSE " +
        "round(r1 * (1.0 - r2) / (1.0 - r1 * r1), 6) END phi1, " +
        "CASE WHEN r1 IS NULL OR r2 IS NULL OR abs(r1) = 1.0 THEN NULL ELSE " +
        "round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) END phi2 FROM pv) " +
        "SELECT et event_type, r1, r2, phi1, phi2, " +
        "CASE WHEN phi1 IS NULL THEN NULL ELSE round(1.0 - phi1 * r1 - phi2 * r2, 6) END innov_ratio " +
        "FROM ph ORDER BY 1")),
    ("q_stat_mutual_info", qStatMutualInfo, Some(
      "WITH ev AS (SELECT event_type et, CAST(isodow(ts) - 1 AS BIGINT) dw FROM events), " +
        "o AS (SELECT et, dw, CAST(count(*) AS BIGINT) o FROM ev GROUP BY 1, 2), " +
        "r AS (SELECT et, CAST(sum(o) AS BIGINT) rt FROM o GROUP BY 1), " +
        "c AS (SELECT dw, CAST(sum(o) AS BIGINT) ct FROM o GROUP BY 1), " +
        "t AS (SELECT CAST(sum(o) AS BIGINT) nn FROM o), " +
        "mi AS (SELECT sum((CAST(o.o AS DOUBLE) / t.nn) * " +
        "ln(CAST(o.o * t.nn AS DOUBLE) / CAST(r.rt * c.ct AS DOUBLE))) miraw " +
        "FROM o JOIN r ON r.et = o.et JOIN c ON c.dw = o.dw CROSS JOIN t), " +
        "hr AS (SELECT sum(-(CAST(rt AS DOUBLE) / t.nn) * ln(CAST(rt AS DOUBLE) / t.nn)) hrow FROM r CROSS JOIN t), " +
        "hc AS (SELECT sum(-(CAST(ct AS DOUBLE) / t.nn) * ln(CAST(ct AS DOUBLE) / t.nn)) hcol FROM c CROSS JOIN t) " +
        "SELECT round(miraw, 6) mi, round(hrow, 6) h_row, round(hcol, 6) h_col, " +
        "CASE WHEN hrow > 0 AND hcol > 0 THEN round(miraw / sqrt(hrow * hcol), 6) END nmi, t.nn n " +
        "FROM mi CROSS JOIN hr CROSS JOIN hc CROSS JOIN t")),
    ("q_seq_entropy", qSeqEntropy, Some(
      "WITH p AS (SELECT event_type v, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) nx FROM events), " +
        "u AS (SELECT v, CAST(count(*) AS BIGINT) cw FROM p GROUP BY 1), " +
        "un AS (SELECT CAST(sum(cw) AS BIGINT) n1 FROM u), " +
        "b AS (SELECT v, nx, CAST(count(*) AS BIGINT) cvw FROM p WHERE nx IS NOT NULL GROUP BY 1, 2), " +
        "cx AS (SELECT v cv, CAST(sum(cvw) AS BIGINT) cv1 FROM b GROUP BY 1), " +
        "bn AS (SELECT CAST(sum(cvw) AS BIGINT) n2 FROM b), " +
        "h1 AS (SELECT sum(-(CAST(cw AS DOUBLE) / n1) * ln(CAST(cw AS DOUBLE) / n1)) h1raw FROM u CROSS JOIN un), " +
        "h2 AS (SELECT sum(-(CAST(cvw AS DOUBLE) / n2) * ln(CAST(cvw AS DOUBLE) / cx.cv1)) h2raw " +
        "FROM b JOIN cx ON cx.cv = b.v CROSS JOIN bn) " +
        "SELECT un.n1 n_tokens, bn.n2 n_bigrams, round(h1raw, 6) h_unigram, round(h2raw, 6) h_cond_bigram, " +
        "round(h1raw - h2raw, 6) info_gain, round(exp(round(h1raw, 6)), 6) ppl_unigram, " +
        "round(exp(round(h2raw, 6)), 6) ppl_bigram " +
        "FROM h1 CROSS JOIN h2 CROSS JOIN un CROSS JOIN bn")),
    ("q_stat_bootstrap_ci", qStatBootstrapCi, Some(
      "WITH x0 AS (SELECT event_id, CAST(round(value * 100.0) AS BIGINT) cents, " +
        "md5('boot' || ':' || CAST(event_id AS VARCHAR)) dig FROM events WHERE event_type = 'purchase'), " +
        "x AS (SELECT event_id, cents, CAST('0x' || substr(dig, 1, 15) AS BIGINT) h1, " +
        "CAST('0x' || substr(dig, 16, 15) AS BIGINT) % 1000003 h2 FROM x0), " +
        "r AS (SELECT x.event_id, x.cents, b.b, " +
        "((x.h1 + b.b * x.h2) % 1000000 + 0.5) / 1000000.0 u " +
        "FROM x CROSS JOIN (SELECT unnest(range(0, 32)) b) b), " +
        "wts AS (SELECT b, cents, CAST(CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1 " +
        "WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3 WHEN u < 0.996340 THEN 4 " +
        "WHEN u < 0.999406 THEN 5 ELSE 6 END AS BIGINT) w FROM r), " +
        "mn AS (SELECT b, CASE WHEN sum(w) > 0 THEN round(CAST(sum(w * cents) AS DOUBLE) / (sum(w) * 100), 6) END m " +
        "FROM wts GROUP BY 1), " +
        "mm AS (SELECT CAST(count(m) AS BIGINT) n_replicates, list(m ORDER BY m) ms, " +
        "round(avg(m), 6) boot_mean, round(stddev_samp(m), 6) se FROM mn WHERE m IS NOT NULL), " +
        "f AS (SELECT CAST(count(*) AS BIGINT) n, round(CAST(sum(cents) AS DOUBLE) / (count(*) * 100), 6) mean_full FROM x) " +
        "SELECT f.n, f.mean_full, mm.n_replicates, mm.boot_mean, mm.se, " +
        "ms[CAST(ceil(0.05 * n_replicates) AS INT)] ci_lo, ms[CAST(ceil(0.95 * n_replicates) AS INT)] ci_hi " +
        "FROM mm CROSS JOIN f")))
}
