package graft.operators

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2.1 categories A–E, H).
  *
  * Every query is a pure `(SparkSession, sfDir) => DataFrame` whose FINAL
  * transformation is the total-order `orderBy` mirroring its oracle SQL's
  * `ORDER BY` (the harness writes `coalesce(1)` so the sort must come last).
  * Doubles are rounded at the very end on both sides (determinism contract
  * §2.0); integer-typed derived columns are cast so Spark's output type
  * matches DuckDB's (e.g. rank() is int in Spark, BIGINT in DuckDB).
  *
  * Scale notes: all plans are declarative DataFrame ops — Catalyst pushes
  * filters/projections into the parquet scan, picks broadcast joins for the
  * small dimensions (region/nation/filtered orders), and AQE re-plans at
  * runtime. orderBy+limit compiles to TakeOrderedAndProject (no global sort
  * materialization).
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  // ---- A. scans ----------------------------------------------------------

  // (l_orderkey, l_linenumber) is NOT unique in this data — the ORDER BY
  // must cover every output column so tied rows are identical (§2.0.1).
  val qScanProject: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
      .drop("l_linenumber")

  // ---- B. filter / predicates / case -------------------------------------

  val qFilterPred: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(
        expr("l_shipdate >= TIMESTAMP_NTZ '1998-01-01 00:00:00'") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 10)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")

  val qCaseExpr: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "high")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("low").as("band"))
      .orderBy("o_orderkey")
      .limit(1000)

  // ---- C. aggregations ----------------------------------------------------

  val qAggHash: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(expr("l_shipdate <= TIMESTAMP_NTZ '2001-09-01 00:00:00'"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        Num.roundd(sum("l_quantity"), 2).as("sum_qty"),
        Num.roundd(sum("l_extendedprice"), 2).as("sum_base"),
        Num.roundd(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc"),
        Num.roundd(Num.roundd(sum("l_quantity"), 6) / count(lit(1)), 4).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  val qAggDistinct: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("c_nationkey")).as("nations"), count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")

  // ROLLUP through the SQL path: the DataFrame `rollup().agg()` output
  // exposes grouping columns twice (for HAVING resolution), which trips the
  // ambiguous-self-join detector when coalescing the grouping NULLs.
  val qAggRollup: Q = (s, d) => {
    Tables.nation(s, d)
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .createOrReplaceTempView("graft_nation_region")
    s.sql(
      """SELECT coalesce(r_name,'ALL') r, coalesce(n_name,'ALL') n, count(*) cnt
        |FROM graft_nation_region GROUP BY ROLLUP(r_name, n_name) ORDER BY r, n""".stripMargin)
  }

  /** Recursive CTE through the SQL path: min-hop BFS from 'signup' over
    * the distinct event-type transition graph — Spark 4's native
    * WITH RECURSIVE (UnionLoopExec) cross-checked against DuckDB's
    * recursion on the same recursion text. The vocabulary-sized edge
    * list is derived ONCE and pinned with localCheckpoint before the
    * loop — UnionLoop re-evaluates its step plan per iteration, so an
    * inlined edge CTE would re-scan the raw table every hop. The DISTINCT
    * in the step caps per-iteration state at the vocabulary; the depth
    * guard (d < 6) bounds the loop on the cyclic graph; min() collapses
    * depths. Residual cost is UnionLoopExec's fixed ~0.3 s/iteration
    * job overhead — the price of exercising the native recursion
    * surface rather than the already-covered iterative-DataFrame BFS
    * (q_graph_bfs), and independent of data volume past the one scan. */
  val qSqlRecursiveBfs: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("event_type").as("src"), lead("event_type", 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct()
      .transform(ArtifactStore.rotate("sql_bfs_edges"))
      .createOrReplaceTempView("graft_edges_rec")
    s.sql(
      """WITH RECURSIVE
        |r(node, d) AS (
        |  SELECT 'signup', 0
        |  UNION ALL
        |  SELECT DISTINCT ed.dst, r.d + 1 FROM r JOIN graft_edges_rec ed ON ed.src = r.node WHERE r.d < 6)
        |SELECT node, CAST(min(d) AS BIGINT) hops FROM r GROUP BY node ORDER BY node""".stripMargin)
  }

  val qAggCube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("f"),
        coalesce(col("l_linestatus"), lit("ALL")).as("s"),
        col("cnt"))
      .orderBy("f", "s")

  // GROUPING SETS with a grouping-id disambiguator: unlike rollup, the sets
  // {(flag), (status)} overlap in their NULL patterns only via the id.
  val qAggGroupingSets: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_gs")
    s.sql(
      """SELECT coalesce(l_returnflag, 'ALL') f, coalesce(l_linestatus, 'ALL') st,
        |       count(*) cnt, round(sum(l_quantity), 2) sq
        |FROM graft_lineitem_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY f, st""".stripMargin)
  }

  // ---- D. joins ------------------------------------------------------------

  val qJoinInner: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .filter(col("o_totalprice") > 400000)
      .select("o_orderkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")

  val qJoinMultiway: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(Num.roundd(sum("o_totalprice"), 2).as("rev"))
      .orderBy("r_name", "n_name")

  val qJoinLeft: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  val qJoinFull: Q = (s, d) => {
    val a = Tables.supplier(s, d).groupBy(col("s_nationkey").as("ka"))
      .agg(count(lit(1)).as("cnt_s"))
    val b = Tables.customer(s, d).groupBy(col("c_nationkey").as("kb"))
      .agg(count(lit(1)).as("cnt_c"))
    a.join(b, col("ka") === col("kb"), "full")
      .select(coalesce(col("ka"), col("kb")).as("k"), col("cnt_s"), col("cnt_c"))
      .orderBy("k")
  }

  val qJoinSemi: Q = (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_totalprice") > 450000),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val qJoinAnti: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  val qJoinThetaRange: Q = (s, d) =>
    Tables.part(s, d)
      .join(
        Tables.lineitem(s, d),
        col("l_partkey") === col("p_partkey") &&
          col("l_quantity").between(col("p_size") - 5, col("p_size") + 5))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("p_brand")

  /** Correlated LATERAL join — top-2 customers by balance per nation as
    * a per-row dependent subquery, the SQL face every "top-N per group"
    * report reaches for. Catalyst DECORRELATES the lateral limit into a
    * partitioned rank under the hood (DecorrelateInnerQuery), so the
    * executed plan is the same single window shuffle the explicit
    * row_number formulation pays — the lateral form costs nothing extra
    * and never executes per-outer-row. */
  val qJoinLateral: Q = (s, d) => {
    // Dataset#lateralJoin (Spark 4): the correlated inner query references
    // the outer row via Column#outer() — no temp-view catalog mutation
    // (the previous SQL form createOrReplaceTempView'd on every call, the
    // one catalog entry that mutated session state).
    val inner = Tables.customer(s, d)
      .where(col("c_nationkey") === col("n_nationkey").outer())
      .orderBy(col("c_acctbal").desc, col("c_name"))
      .limit(2)
      .select("c_name", "c_acctbal")
    Tables.nation(s, d).lateralJoin(inner)
      .select("n_name", "c_name", "c_acctbal")
      .orderBy(col("n_name"), col("c_acctbal").desc, col("c_name"))
  }

  /** Bloom-pruned join — the RUNTIME-FILTER pattern for 100 TB fact⋈dim:
    * build a mergeable Bloom filter (graft.functions.BloomSketch) over the
    * selective side's keys (one single-shuffle aggregate; the one-row
    * collect is numBits/8 bytes — 8 KiB here — bounded by design like the
    * IVF centroid pull), embed it as a literal in the fact scan's filter
    * (codegen'd probe, no UDF), and drop non-matching rows BEFORE the
    * join's shuffle. Bloom false positives survive the filter but are
    * removed by the exact join that follows, so the result is exactly the
    * plain join — hence the full oracle. At cluster scale this is what
    * turns a 100 TB shuffle into a shuffle of the matching fraction;
    * PlanSpec asserts the probe sits scan-side below the join. */
  val qJoinBloomPruned: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val build = Tables.orders(s, d)
      .filter(col("o_totalprice") > 400000)
      .select("o_orderkey", "o_totalprice")
    val bloomBytes = build
      .agg(call_function("graft_bloom", col("o_orderkey"), lit(65536), lit(6)))
      .head().getAs[Array[Byte]](0)
    Tables.lineitem(s, d)
      .filter(call_function("graft_might_contain", lit(bloomBytes), col("l_orderkey")))
      .join(build, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_totalprice")
      .agg(
        count(lit(1)).as("n_items"),
        Num.roundd(Num.roundd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 8), 2).as("revenue"))
      .orderBy("l_orderkey")
  }

  // ---- E. sort / set ops / window functions --------------------------------

  val qSortTopk: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  /** Keyset (cursor) pagination — the API-serving idiom that replaces
    * OFFSET at scale: "the next 100 events after cursor (ts, id)". The
    * tuple-inequality predicate pushes to the parquet scan and the
    * ORDER+LIMIT compiles to TakeOrderedAndProject, so each page costs a
    * pruned scan + per-partition top-k merge regardless of page depth —
    * where OFFSET n pages O(n) rows every call. (ts, event_id) is the
    * unique total order the cursor contract requires. */
  val qPageKeyset: Q = (s, d) => {
    val cur = lit("2024-01-15 12:00:00").cast("timestamp_ntz")
    Tables.events(s, d)
      .filter(col("ts") > cur || (col("ts") === cur && col("event_id") > 0))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .limit(100)
  }

  val qSetUnion: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .distinct()
      .orderBy("k")

  val qSetIntersect: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .orderBy("k")

  val qSetExcept: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_nationkey").as("k"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("k")))
      .orderBy("k")

  val qWindowRank: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d)
      .select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        rank().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 5)
      .orderBy("c_mktsegment", "rnk", "c_custkey")
  }

  val qWindowLag: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag("o_totalprice", 1).over(w).as("prev_price"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      .limit(1000)
  }

  val qWindowFrame: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(-2, Window.currentRow)
    Tables.orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"),
        Num.roundd(sum("o_totalprice").over(w), 2).as("run3"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(1000)
  }

  /** Positional window functions — first_value / nth_value / last_value
    * over an explicit full-partition frame: each order sees its
    * customer's cheapest, 2nd-cheapest and priciest order. The frame is
    * pinned to UNBOUNDED..UNBOUNDED because last_value's default frame
    * (..CURRENT ROW) is the classic silent-wrong-answer; the ORDER BY
    * (price, key) is total so every position is engine-deterministic.
    * One window shuffle on the partition key, same as every ranked
    * report. */
  val qWindowNth: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        first("o_totalprice").over(w).as("cheapest"),
        nth_value(col("o_totalprice"), 2).over(w).as("secnd"),
        last("o_totalprice").over(w).as("priciest"))
      .orderBy("o_custkey", "o_orderkey")
      .limit(1000)
  }

  // Distribution window functions: percent_rank/cume_dist/ntile share exact
  // definitions across engines; total order makes them deterministic.
  val qWindowDist: Q = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    Tables.customer(s, d)
      .select(
        col("c_mktsegment"), col("c_custkey"),
        Num.roundd(percent_rank().over(w), 6).as("pr"),
        Num.roundd(cume_dist().over(w), 6).as("cd"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("c_mktsegment", "c_custkey")
      .limit(1000)
  }

  // ---- H. scalar functions --------------------------------------------------

  val qScalarString: Q = (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_name").like("Customer%"))
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("u"),
        substring(col("c_name"), 1, 8).as("s"),
        length(col("c_name")).cast("long").as("l"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("num"))
      .orderBy("c_custkey")
      .limit(500)

  val qScalarString2: Q = (s, d) =>
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        reverse(col("c_name")).as("rev"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        trim(lit("  x  ")).as("trimmed"))
      .orderBy("c_custkey")
      .limit(500)

  // DuckDB extract(dow): 0=Sunday; Spark dayofweek: 1=Sunday → subtract 1.
  val qScalarDate: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("m"),
        year(col("o_orderdate")).cast("long").as("y"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dw"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("dd"))
      .orderBy("o_orderkey")
      .limit(1000)

  val qScalarMath: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        Num.roundd(sqrt(col("l_extendedprice")), 4).as("r1"),
        Num.roundd(log(col("l_extendedprice") + 1), 4).as("r2"),
        abs(col("l_discount") - 0.05).as("r3"),
        floor(col("l_quantity")).as("f"),
        ceil(col("l_tax") * 100).as("c"))
      // non-unique (orderkey, linenumber): tiebreak on ALL derived columns
      // so the LIMIT cut and tied rows are identical on both sides
      .orderBy("l_orderkey", "l_linenumber", "r1", "r2", "r3", "f", "c")
      .limit(1000)

  val qScalarJson: Q = (s, d) =>
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")
      .limit(1000)

  /** Structured JSON path: `from_json` with an EXPLICIT nested schema —
    * one Jackson parse per row projects every requested key at once and
    * lets the planner prune unrequested ones, vs one get_json_object walk
    * PER KEY in qScalarJson (at 100 TB, k single-key walks re-parse the
    * payload k times; schema projection parses once, and an explicit
    * schema skips the inference scan entirely). The nested doc is
    * composed from data columns (the fixture's `props` carries a single
    * key), so the parse exercises a multi-key struct + a filter on a
    * parsed field; filter and parse stay in one codegen'd stage. */
  val qScalarJsonStruct: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("doc", concat(
        lit("{\"meta\":"), col("props"),
        lit(",\"type\":\""), col("event_type"), lit("\"}")))
      .withColumn("j", from_json(col("doc"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "meta STRUCT<k: INT>, type STRING")))
      .filter(col("j.meta.k") >= 50)
      .select(col("event_id"), col("j.meta.k").as("k"), col("j.type").as("etype"))
      .orderBy("event_id")
      .limit(1000)

  /** Multi-match regex extraction over the corpus — the scan-speed shape
    * for pattern mining (all matches per row, count + first), vs the
    * single-match regexp_extract in qScalarString. `get(arr, 0)` (not
    * element_at) so an empty match list yields NULL under ANSI mode,
    * matching DuckDB's list[1] out-of-bounds semantics. */
  val qScalarRegex: Q = (s, d) =>
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        expr("size(regexp_extract_all(lower(text), '[a-z]+ing\\\\b', 0))").cast("long").as("n_ing"),
        expr("get(regexp_extract_all(lower(text), '[a-z]+ing\\\\b', 0), 0)").as("first_ing"),
        expr("size(regexp_extract_all(text, '[0-9]+', 0))").cast("long").as("n_num"))
      .orderBy("doc_id")

  /** name → (impl, oracle SQL). Oracle texts: SURVEY.md §8, with explicit
    * casts added where DuckDB's and Spark's natural output types diverge. */
  val all: Seq[(String, Q, String)] = Seq(
    ("q_sql_recursive_bfs", qSqlRecursiveBfs,
      "WITH RECURSIVE ed AS (SELECT DISTINCT src, dst FROM (" +
        "SELECT event_type src, lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) dst " +
        "FROM events) t WHERE dst IS NOT NULL AND src <> dst), " +
        "r(node, d) AS (SELECT 'signup', 0 UNION ALL " +
        "SELECT DISTINCT ed.dst, r.d + 1 FROM r JOIN ed ON ed.src = r.node WHERE r.d < 6) " +
        "SELECT node, CAST(min(d) AS BIGINT) hops FROM r GROUP BY node ORDER BY node"),
    ("q_scan_project", qScanProject,
      "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice"),
    ("q_filter_pred", qFilterPred,
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10 ORDER BY l_orderkey, l_linenumber, l_extendedprice"),
    ("q_case_expr", qCaseExpr,
      "SELECT o_orderkey, CASE WHEN o_totalprice>300000 THEN 'high' WHEN o_totalprice>100000 THEN 'mid' ELSE 'low' END band FROM orders ORDER BY o_orderkey LIMIT 1000"),
    ("q_agg_hash", qAggHash,
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) sum_qty, round(sum(l_extendedprice),2) sum_base, round(sum(l_extendedprice*(1-l_discount)),2) sum_disc, round(round(sum(l_quantity),6)/count(*),4) avg_qty, count(*) cnt FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    ("q_agg_distinct", qAggDistinct,
      "SELECT c_mktsegment, count(DISTINCT c_nationkey) nations, count(*) cnt FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    ("q_agg_rollup", qAggRollup,
      "SELECT coalesce(r_name,'ALL') r, coalesce(n_name,'ALL') n, count(*) cnt FROM nation JOIN region ON n_regionkey=r_regionkey GROUP BY ROLLUP(r_name, n_name) ORDER BY r, n"),
    ("q_agg_cube", qAggCube,
      "SELECT coalesce(l_returnflag,'ALL') f, coalesce(l_linestatus,'ALL') s, count(*) cnt FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY f, s"),
    ("q_agg_grouping_sets", qAggGroupingSets,
      "SELECT coalesce(l_returnflag,'ALL') f, coalesce(l_linestatus,'ALL') st, count(*) cnt, round(sum(l_quantity),2) sq FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus)) ORDER BY f, st"),
    ("q_window_dist", qWindowDist,
      "SELECT c_mktsegment, c_custkey, round(percent_rank() OVER w, 6) pr, round(cume_dist() OVER w, 6) cd, CAST(ntile(4) OVER w AS BIGINT) quartile FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) ORDER BY c_mktsegment, c_custkey LIMIT 1000"),
    ("q_scalar_string2", qScalarString2,
      "SELECT c_custkey, regexp_replace(c_name, '[0-9]', '#', 'g') masked, reverse(c_name) rev, lpad(CAST(c_custkey AS VARCHAR), 10, '0') padded, concat_ws('|', c_mktsegment, c_name) joined, trim('  x  ') trimmed FROM customer ORDER BY c_custkey LIMIT 500"),
    ("q_join_inner", qJoinInner,
      "SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey=c_custkey WHERE o_totalprice > 400000 ORDER BY o_orderkey"),
    ("q_join_multiway", qJoinMultiway,
      "SELECT r_name, n_name, round(sum(o_totalprice),2) rev FROM orders JOIN customer ON o_custkey=c_custkey JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey GROUP BY r_name, n_name ORDER BY r_name, n_name"),
    ("q_join_left", qJoinLeft,
      "SELECT c_custkey, count(o_orderkey) n_orders FROM customer LEFT JOIN orders ON o_custkey=c_custkey GROUP BY c_custkey ORDER BY c_custkey"),
    ("q_join_full", qJoinFull,
      "SELECT coalesce(a.k,b.k) k, a.cnt_s, b.cnt_c FROM (SELECT s_nationkey k, count(*) cnt_s FROM supplier GROUP BY 1) a FULL JOIN (SELECT c_nationkey k, count(*) cnt_c FROM customer GROUP BY 1) b ON a.k=b.k ORDER BY k"),
    ("q_join_semi", qJoinSemi,
      "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey AND o_totalprice>450000) ORDER BY c_custkey"),
    ("q_join_anti", qJoinAnti,
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey) ORDER BY c_custkey"),
    ("q_join_theta_range", qJoinThetaRange,
      "SELECT p_brand, count(*) cnt FROM part JOIN lineitem ON l_partkey=p_partkey AND l_quantity BETWEEN p_size-5 AND p_size+5 GROUP BY p_brand ORDER BY p_brand"),
    ("q_join_lateral", qJoinLateral,
      "SELECT n_name, c_name, c_acctbal FROM nation, " +
        "LATERAL (SELECT c_name, c_acctbal FROM customer WHERE c_nationkey = n_nationkey " +
        "ORDER BY c_acctbal DESC, c_name LIMIT 2) " +
        "ORDER BY n_name, c_acctbal DESC, c_name"),
    ("q_join_bloom_pruned", qJoinBloomPruned,
      "SELECT l_orderkey, o_totalprice, count(*) n_items, round(round(sum(l_extendedprice*(1-l_discount)),8),2) revenue " +
        "FROM lineitem JOIN orders ON l_orderkey=o_orderkey WHERE o_totalprice>400000 " +
        "GROUP BY l_orderkey, o_totalprice ORDER BY l_orderkey"),
    ("q_sort_topk", qSortTopk,
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
    ("q_page_keyset", qPageKeyset,
      "SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE ts > TIMESTAMP '2024-01-15 12:00:00' " +
        "OR (ts = TIMESTAMP '2024-01-15 12:00:00' AND event_id > 0) " +
        "ORDER BY ts, event_id LIMIT 100"),
    ("q_set_union", qSetUnion,
      "SELECT c_nationkey k FROM customer UNION SELECT s_nationkey k FROM supplier ORDER BY k"),
    ("q_set_intersect", qSetIntersect,
      "SELECT c_nationkey k FROM customer INTERSECT SELECT s_nationkey k FROM supplier ORDER BY k"),
    ("q_set_except", qSetExcept,
      "SELECT c_nationkey k FROM customer EXCEPT SELECT s_nationkey k FROM supplier ORDER BY k"),
    ("q_window_rank", qWindowRank,
      "SELECT * FROM (SELECT c_mktsegment, c_custkey, c_acctbal, rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) rnk FROM customer) WHERE rnk <= 5 ORDER BY c_mktsegment, rnk, c_custkey"),
    ("q_window_lag", qWindowLag,
      "SELECT o_custkey, o_orderkey, o_orderdate, lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) prev_price FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey LIMIT 1000"),
    ("q_window_frame", qWindowFrame,
      "SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),2) run3 FROM orders ORDER BY o_custkey, o_orderkey LIMIT 1000"),
    ("q_window_nth", qWindowNth,
      "SELECT o_custkey, o_orderkey, " +
        "first_value(o_totalprice) OVER w cheapest, " +
        "nth_value(o_totalprice, 2) OVER w secnd, " +
        "last_value(o_totalprice) OVER w priciest " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY o_custkey, o_orderkey LIMIT 1000"),
    ("q_scalar_string", qScalarString,
      "SELECT c_custkey, upper(c_name) u, substr(c_name,1,8) s, CAST(length(c_name) AS BIGINT) l, regexp_extract(c_name,'([0-9]+)',1) num FROM customer WHERE c_name LIKE 'Customer%' ORDER BY c_custkey LIMIT 500"),
    ("q_scalar_date", qScalarDate,
      "SELECT o_orderkey, CAST(date_trunc('month', o_orderdate) AS DATE) m, CAST(extract(year FROM o_orderdate) AS BIGINT) y, CAST(extract(dow FROM o_orderdate) AS BIGINT) dw, CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) dd FROM orders ORDER BY o_orderkey LIMIT 1000"),
    ("q_scalar_math", qScalarMath,
      "SELECT l_orderkey, l_linenumber, round(sqrt(l_extendedprice),4) r1, round(ln(l_extendedprice+1),4) r2, abs(l_discount-0.05) r3, CAST(floor(l_quantity) AS BIGINT) f, CAST(ceil(l_tax*100) AS BIGINT) c FROM lineitem ORDER BY l_orderkey, l_linenumber, r1, r2, r3, f, c LIMIT 1000"),
    ("q_scalar_json", qScalarJson,
      "SELECT event_id, CAST(json_extract(props,'$.k') AS INTEGER) k FROM events ORDER BY event_id LIMIT 1000"),
    ("q_scalar_json_struct", qScalarJsonStruct,
      "SELECT event_id, CAST(json_extract(doc, '$.meta.k') AS INTEGER) k, json_extract_string(doc, '$.type') etype " +
        "FROM (SELECT event_id, '{\"meta\":' || props || ',\"type\":\"' || event_type || '\"}' doc FROM events) " +
        "WHERE CAST(json_extract(doc, '$.meta.k') AS INTEGER) >= 50 ORDER BY event_id LIMIT 1000"),
    ("q_scalar_regex", qScalarRegex,
      "SELECT doc_id, CAST(len(regexp_extract_all(lower(text), '[a-z]+ing\\b')) AS BIGINT) n_ing, " +
        "regexp_extract_all(lower(text), '[a-z]+ing\\b')[1] first_ing, " +
        "CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) n_num FROM documents ORDER BY doc_id"),
  )
}
