package graft.operators

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-analytics tier over event sequences: the behavioral graph a
  * TSDB's events table implies (consecutive events per user = an edge
  * between event types) and the two queries product analytics runs on
  * it — the Markov transition matrix and PageRank over the weighted
  * transition graph.
  *
  * Scale shape: the EDGE DERIVATION is the big-data stage — one keyed
  * window shuffle over the raw scan (the q_ts_session shuffle) collapsed
  * immediately to a (src, dst, weight) edge list bounded by the label
  * vocabulary². The iteration then runs on the collapsed graph — driver
  * -local when the graph is vocabulary-bounded (see qGraphPagerank's doc
  * for the switch point), join-aggregate Pregel steps with
  * localCheckpoint-pinned iterates when it isn't (the
  * Dedup.connectedComponents device). Dangling mass: every observed node
  * has an out-edge by construction (its own successor pair), so no
  * redistribution term is needed — document before reusing on graphs
  * with sinks.
  *
  * Determinism: edge weights and out-degrees are exact longs; per-step
  * ranks round through [[Num.roundd]] at 8 decimals on both engines.
  * SQL SUM order is unspecified, so agreement rests on that per-step
  * round absorbing sub-1e-8 summation-order drift (≤ vocabulary-size
  * terms per sum) before it can compound across the 20 iterations — not
  * on any engine-level guarantee of a matching IEEE sequence. The
  * oracle UNROLLS the same 20 steps as chained CTEs — an independent
  * algorithm (no recursion, no fold) over the same rounded iterates.
  */
object Graphs {
  type Q = (SparkSession, String) => DataFrame

  /** (src, dst, n) edge list: consecutive event-type pairs per user in
    * (ts, event_id) order. One window shuffle + one hash aggregate. */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("src"))
      .withColumn("dst", lead("src", 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n"))
  }

  /** First-order Markov transition matrix of user behavior: P(next =
    * dst | current = src) with exact transition counts — the session-flow
    * / funnel-discovery report. The row-normalizer is a window over the
    * ≤vocabulary² edge list, never the raw events. */
  val qGraphTransitions: Q = (s, d) =>
    edges(s, d)
      .withColumn("p", Num.roundd(
        col("n").cast("double") / sum("n").over(Window.partitionBy("src")), 6))
      .select("src", "dst", "n", "p")
      .orderBy("src", "dst")

  /** Weighted PageRank (d=0.85, 20 fixed iterations) over the transition
    * graph — "which state dominates user flow at equilibrium".
    *
    * Execution split: the DISTRIBUTED stage is the edge derivation +
    * collapse (window shuffle + hash agg over the full scan — that part
    * scales with the corpus); the 20-step power iteration then runs
    * driver-local on the COLLAPSED graph, which is ≤ vocabulary² edges no
    * matter how many events produced it. Iterating a 5-node matrix
    * through 20 Spark jobs paid ~3 s of pure job-scheduling overhead for
    * microseconds of arithmetic (the bench's slowest entry); the collect
    * moves exactly the already-bounded state a Pregel superstep would
    * have broadcast anyway. For node sets too big to collect, the
    * join-per-step Pregel form (each step one edge-list shuffle,
    * localCheckpoint-pinned iterates — see git history of this file and
    * Dedup.connectedComponents for the device) is the fallback; the
    * SWITCH POINT is "does the rank vector broadcast", same as any
    * broadcast-vs-shuffle join decision.
    *
    * Per-step ranks round at 8 decimals; contributions fold in
    * sorted-src order here, but SQL gives no sum-order guarantee, so the
    * real invariant is that the per-step round absorbs sub-1e-8 order
    * drift (it could only surface at an exact .5-ulp round boundary),
    * not that the two engines compute the same IEEE sequence. */
  val qGraphPagerank: Q = (s, d) => {
    val ef = edges(s, d)
      .withColumn("outw", sum("n").over(Window.partitionBy("src")))
      .select(col("src"), col("dst"), (col("n").cast("double") / col("outw")).as("frac"))
    val e = ef.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val ns = Tables.events(s, d).select(col("event_type").as("node")).distinct()
      .collect().map(_.getString(0)).sorted
    val c = ns.length.toDouble
    def r8(x: Double): Double = { // Num.roundd(_, 8), scalar form
      val m = math.floor(math.abs(x) * 1e8 + 0.5) / 1e8
      if (x < 0) -m else m
    }
    val incoming = e.groupBy(_._2).map { case (k, v) => k -> v.sortBy(_._1) }
    var rank = ns.map(_ -> 1.0 / c).toMap
    for (_ <- 1 to 20)
      rank = ns.map { n =>
        val sc = incoming.getOrElse(n, Array.empty[(String, String, Double)])
          .foldLeft(0.0)((a, t) => a + rank(t._1) * t._3)
        n -> r8(0.15 / c + 0.85 * sc)
      }.toMap
    import s.implicits._
    ns.map(n => (n, rank(n))).toSeq.toDF("node", "rank").orderBy("node")
  }

  /** Top-20 3-step behavior paths (the path-analysis report): consecutive
    * event-type triples per user in (ts, event_id) order. Two `lead`
    * columns ride the SAME user-keyed window sort the edge derivation
    * pays, then a vocabulary³-bounded hash aggregate and a TakeOrdered
    * head — no global sort. */
  val qGraphPaths: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("e1"))
      .withColumn("e2", lead("e1", 1).over(w))
      .withColumn("e3", lead("e1", 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  /** Last-touch conversion attribution: each purchase credits the user's
    * most recent NON-purchase event before it — the marketing-attribution
    * query every funnel dashboard ships. One user-keyed window
    * (`last_value` ignoring nulls over the preceding frame) rides the
    * same sessionization-shaped shuffle; the share normalizer windows the
    * ≤vocabulary-row conversion rollup. */
  val qGraphAttribution: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("touch").isNotNull)
      .groupBy("touch")
      .agg(count(lit(1)).as("conversions"))
      .withColumn("share", Num.roundd(
        col("conversions").cast("double") / sum("conversions").over(Window.partitionBy()), 6))
      .orderBy("touch")
  }

  /** Multi-touch conversion attribution — the fairness upgrade over
    * [[qGraphAttribution]]'s last-touch: each purchase credits its last
    * ≤3 preceding touches under TWO schemes, linear (1/k each) and
    * U-shaped (40/20/40 of the oldest/middle/newest for k=3, 50/50 for
    * k=2, 100 for k=1). Touch lookup is shuffle-shaped, not windowed
    * per pair: every non-purchase event takes a running touch index ti
    * per user (one keyed window), each purchase carries the index T of
    * its latest preceding touch and EXPLODES to the ≤3 candidate
    * indices — an equality join on (user, ti), 3× purchases rows, never
    * a pair scan. Credits stay EXACT INTEGERS throughout (linear in
    * sixths — 6/k ∈ {6,3,2}; U-shape in percent), divided once at the
    * report. */
  val qGraphAttributionMulti: Q = (s, d) => {
    val wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seq0 = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("ti", sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).over(wo))
    val touches = seq0.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ti"), col("event_type").as("touch"))
    val purchases = seq0.filter(col("event_type") === "purchase" && col("ti") >= 1)
      .withColumn("k", least(col("ti"), lit(3L)))
      .select(col("user_id"), col("event_id").as("pid"), col("ti").as("tmax"), col("k"),
        explode(expr("sequence(greatest(ti - 2, 1L), ti)")).as("ti"))
    purchases.join(touches, Seq("user_id", "ti"))
      .withColumn("pos", col("tmax") - col("ti")) // 0 = newest touch
      .withColumn("lin6", expr("6 div k"))        // exact long: k ∈ {1,2,3}
      .withColumn("upct",
        when(col("k") === 1L, 100L)
          .when(col("k") === 2L, 50L)
          .otherwise(when(col("pos") === 1L, 20L).otherwise(40L)))
      .groupBy("touch")
      .agg(countDistinct("pid").as("conversions"),
        sum("lin6").as("l6"), sum("upct").as("up"))
      .select(col("touch"), col("conversions"),
        Num.roundd(col("l6").cast("double") / 6.0, 6).as("linear_credit"),
        Num.roundd(col("up").cast("double") / 100.0, 6).as("u_credit"))
      .orderBy("touch")
  }

  /** Distinct undirected edge set of the transition graph (self-loops
    * dropped, endpoints ordered a < b) — the input shape triangle
    * counting wants. Rides the SAME user-keyed window shuffle as
    * [[edges]], collapsed to ≤ vocabulary² rows by the distinct. */
  private def undirectedEdges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("src"))
      .withColumn("dst", lead("src", 1).over(w))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
  }

  /** Triangle enumeration on the undirected transition graph — the
    * clustering signal community detection starts from. Canonical
    * a < b < c form: join wedges (a–b, b–c) and close them against the
    * edge set. The joins run on the COLLAPSED edge list (≤ vocabulary²
    * rows; localCheckpoint pins it so the window-shuffle derivation runs
    * once, not three times). At 100 TB-scale graphs the same plan holds
    * with degree-ordered orientation (each edge oriented low→high degree
    * bounds wedge fan-out by sqrt(|E|) — note for the general library
    * entry point; the label-vocabulary graph here never needs it). */
  val qGraphTriangles: Q = (s, d) => {
    val ed = ArtifactStore.rotate("graph_triangles_edges")(undirectedEdges(s, d))
    val e2 = ed.select(col("a").as("b2"), col("b").as("c"))
    val e3 = ed.select(col("a").as("a3"), col("b").as("c3"))
    ed.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
      .orderBy("a", "b", "c")
  }

  /** Degree report of the directed transition graph: distinct in/out
    * neighbors and weighted in/out flow per node — the graph-summary
    * card. Two hash aggregates over the collapsed edge list, stitched
    * with a full outer join so pure sources and pure sinks both appear. */
  val qGraphDegree: Q = (s, d) => {
    val ed = ArtifactStore.rotate("graph_degree_edges")(edges(s, d))
    val o = ed.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"), sum("n").as("out_w"))
    val i = ed.groupBy(col("dst").as("node2"))
      .agg(count(lit(1)).as("in_deg"), sum("n").as("in_w"))
    o.join(i, col("node") === col("node2"), "full")
      .select(coalesce(col("node"), col("node2")).as("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("out_w"), lit(0L)).as("out_w"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("in_w"), lit(0L)).as("in_w"))
      .orderBy("node")
  }

  /** Link prediction over the undirected transition graph: every
    * distance-2 candidate pair (a,b) — exactly the pairs with ≥1 common
    * neighbor, i.e. the only pairs any neighborhood score can rank —
    * with the three classic scores: common-neighbor count (exact long),
    * Jaccard cn/(deg a + deg b − cn) (one division of exact longs), and
    * Adamic–Adar Σ 1/ln(deg u) over the common neighbors (every common
    * neighbor has deg ≥ 2 by construction — it touches both a and b —
    * so ln never hits 0). Plus whether the pair is ALREADY an edge, so
    * the consumer can split "rank existing ties" from "predict new
    * ones". Scale: the wedge join's fan-out is Σ deg(u)² over the
    * COLLAPSED vocabulary graph, never events; on heavy-tailed general
    * graphs the same plan takes the degree-orientation bound the
    * triangle doc notes. AA is the tier's one double sum (≤ vocabulary
    * terms); the 6 dp round absorbs summation-order drift — the
    * q_graph_pagerank device, not an engine IEEE guarantee. */
  val qGraphLinkPredict: Q = (s, d) => {
    val und = ArtifactStore.rotate("graph_link_predict_edges")(undirectedEdges(s, d))
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .union(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
    val a1 = adj.select(col("node").as("a"), col("nbr").as("u"))
    val a2 = adj.select(col("node").as("b"), col("nbr").as("u"))
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val sc = a1.join(a2, "u").filter(col("a") < col("b"))
      .join(du, "u")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        Num.roundd(sum(lit(1.0) / log(col("du").cast("double"))), 6).as("adamic_adar"))
    sc.join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .join(und.withColumn("is_edge", lit(true)), Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("cn"),
        Num.roundd(col("cn").cast("double") /
          (col("da") + col("db") - col("cn")).cast("double"), 6).as("jaccard"),
        col("adamic_adar"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"))
      .orderBy("a", "b")
  }

  /** Per-node clustering coefficient on the undirected transition graph:
    * cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) with T(v) the triangles
    * through v — the local-density summary community detection reads
    * first. Triangle membership comes from the same canonical a<b<c
    * enumeration as q_graph_triangles, exploded once to its three
    * corners; everything is exact longs until the single cc division
    * (NULL when deg < 2 — the coefficient is undefined, not zero). */
  val qGraphClusterCoef: Q = (s, d) => {
    val und = ArtifactStore.rotate("graph_cluster_coef_edges")(undirectedEdges(s, d))
    val e2 = und.select(col("a").as("b2"), col("b").as("c"))
    val e3 = und.select(col("a").as("a3"), col("b").as("c3"))
    val tris = und.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
    val perNode = tris.select(col("a").as("node"))
      .union(tris.select(col("b").as("node")))
      .union(tris.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(null)).otherwise(
          Num.roundd(lit(2.0) * coalesce(col("tri"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6)).as("cc"))
      .orderBy("node")
  }

  /** First-order Markov-chain attribution with removal effects (the
    * data-driven alternative to positional credit, public formulation:
    * Anderl, Becker, von Wangenheim & Schumann 2014): journeys are each
    * user's ordered NON-purchase touches before their first purchase
    * (absorbing at CONV) or to the end of their history (absorbing at
    * NULL); the chain is the touch-transition count matrix; a channel's
    * removal effect is how much the START→CONV absorption probability
    * drops when every transition into that channel is redirected to
    * NULL (original probabilities kept — no renormalization, per the
    * standard formulation); shares normalize the removal effects.
    *
    * Absorption probabilities are DEFINED as the 25-step iterate of
    * p ← T·p (CONV = 1, NULL = 0), each entry rounded at 8 dp — the
    * q_graph_pagerank replay discipline, so SQL sum-order drift
    * (≤ vocabulary terms) is absorbed before it compounds; the oracle
    * replays the identical sequence in 25 chained MATERIALIZED CTEs
    * over the (removal × state) grid. Scale: the journey derivation is
    * one user-keyed window shuffle collapsed to a ≤ (vocabulary+2)²
    * count matrix; the [(V+2)² rows].collect() and the driver solve are
    * bounded by the label vocabulary, never event volume — the same
    * switch-point as PageRank's rank vector. */
  val qGraphAttributionMarkov: Q = (s, d) => {
    import s.implicits._
    // r17 (guide §2.4): ONE user-keyed exchange for the whole journey
    // derivation. The r16 shape computed pn as a separate aggregate and
    // joined it back, and the 3-branch union re-ran the window chain once
    // per branch (plans/r17/graph_attribution_markov_before). Now: pn is
    // a whole-partition window min riding the SAME sort as rn; the tn/nx
    // window orders by (ts, event_id) — the order rn itself encodes — so
    // its sort requirement is satisfied by the one sort already done; and
    // tt is checkpointed (touch-row-sized) so mid/first read it instead
    // of re-deriving. The direct START→CONV count (purchase users with
    // zero touches) folds to two cheap aggregates: distinct purchase
    // users minus distinct purchase users appearing in tt.
    val wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wu = Window.partitionBy("user_id")
    val wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tt = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(wo))
      .withColumn("pn",
        min(when(col("event_type") === "purchase", col("rn"))).over(wu))
      .filter(col("event_type") =!= "purchase" && (col("pn").isNull || col("rn") < col("pn")))
      .withColumn("tn", row_number().over(wt))
      .withColumn("nx", lead("event_type", 1).over(wt))
      .transform(ArtifactStore.rotate("markov_tt"))
    val mid = tt.select(col("event_type").as("src"),
      coalesce(col("nx"),
        when(col("pn").isNotNull, lit("CONV")).otherwise(lit("NULL"))).as("dst"))
    val first = tt.filter(col("tn") === 1L)
      .select(lit("START").as("src"), col("event_type").as("dst"))
    val nPurchaseUsers = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .agg(countDistinct("user_id")).head().getLong(0)
    val nTouchedPurchaseUsers = tt.filter(col("pn").isNotNull)
      .agg(countDistinct("user_id")).head().getLong(0)
    val directN = nPurchaseUsers - nTouchedPurchaseUsers
    val cnt0 = mid.union(first)
      .groupBy("src", "dst").agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val cnt =
      if (directN == 0L) cnt0
      else cnt0.updatedWith(("START", "CONV"))(v => Some(v.getOrElse(0L) + directN))
    val rowSum = cnt.toSeq.groupBy(_._1._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val channels = cnt.keysIterator.flatMap { case (a, b) => Iterator(a, b) }
      .filter(x => x != "START" && x != "CONV" && x != "NULL").toArray.distinct.sorted
    def r8(x: Double) = { val m = math.floor(math.abs(x) * 1e8 + 0.5) / 1e8; if (x < 0) -m else m }
    def r6(x: Double) = { val m = math.floor(math.abs(x) * 1e6 + 0.5) / 1e6; if (x < 0) -m else m }
    val states = "START" +: channels.toSeq
    val idx = channels.zipWithIndex.map { case (c0, i) => c0 -> (i + 1) }.toMap
    def solve(removed: String): Double = {
      var p = Array.fill(states.size)(0.0)
      for (_ <- 1 to 25) {
        p = states.toArray.map { st =>
          val n = rowSum.getOrElse(st, 0L).toDouble
          if (n == 0.0) 0.0
          else r8(cnt.getOrElse((st, "CONV"), 0L).toDouble / n +
            channels.iterator.filter(_ != removed)
              .map(ch => cnt.getOrElse((st, ch), 0L).toDouble / n * p(idx(ch))).sum)
        }
      }
      p(0)
    }
    val pb = solve("")
    val rem = channels.toSeq.map { ch =>
      val pr = solve(ch)
      (ch, r6(pb), r6(pr), if (pb > 0.0) Some(r6(1.0 - pr / pb)) else None)
    }
    val tot = rem.flatMap(_._4).sum
    rem.map { case (ch, b, pr, re) =>
      (ch, b, pr, re, re.filter(_ => tot > 0.0).map(v => r6(v / tot)))
    }.toDF("channel", "p_base", "p_removed", "removal_effect", "share")
      .orderBy("channel")
  }

  // ---- catalog ------------------------------------------------------------

  private val UND_SQL =
    "p0 AS (SELECT event_type src, lead(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) dst FROM events), " +
      "und AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b FROM p0 " +
      "WHERE dst IS NOT NULL AND src <> dst)"

  private val EDGE_SQL =
    "p0 AS (SELECT event_type src, lead(event_type) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id) dst FROM events), " +
      "ed AS (SELECT src, dst, CAST(count(*) AS BIGINT) n FROM p0 WHERE dst IS NOT NULL GROUP BY 1, 2)"

  /** Two-step transition probabilities P² — "where is a user two clicks
    * from now": the first-order matrix multiplied with itself, computed
    * as a self-join of the COLLAPSED transition table on the middle
    * state (the edge derivation pays the scan once; the multiply touches
    * ≤ vocabulary³ rows, never events). Each P entry is pre-rounded at 6
    * (the published matrix IS the input — consumers compose what they
    * read, not hidden full-precision values); the ≤vocabulary-term dot
    * product re-rounds at 6. */
  val qGraphMarkov2: Q = (s, d) => {
    // r18: a rotate pin of the ≤vocab²-row transition matrix was measured
    // and REJECTED (0.39 → 0.57 s): the two self-join sides' edge
    // derivations overlap inside one job at sf0.1, so the pin's
    // materialization barrier outweighs the duplicated window+aggregate.
    val p1 = edges(s, d)
      .withColumn("p", Num.roundd(
        col("n").cast("double") / sum("n").over(Window.partitionBy("src")), 6))
      .select("src", "dst", "p")
    p1.as("a").join(p1.as("b"), col("a.dst") === col("b.src"))
      .groupBy(col("a.src").as("src"), col("b.dst").as("dst"))
      .agg(Num.roundd(sum(col("a.p") * col("b.p")), 6).as("p2"))
      .orderBy("src", "dst")
  }

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q_graph_markov2", qGraphMarkov2, Some(
      s"WITH $EDGE_SQL, " +
        "p1 AS (SELECT src, dst, round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src) AS BIGINT), 6) p FROM ed) " +
        "SELECT a.src, b.dst, round(sum(a.p * b.p), 6) p2 " +
        "FROM p1 a JOIN p1 b ON b.src = a.dst GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_graph_transitions", qGraphTransitions, Some(
      s"WITH $EDGE_SQL " +
        "SELECT src, dst, n, round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY src) AS BIGINT), 6) p " +
        "FROM ed ORDER BY src, dst")),
    ("q_graph_pagerank", qGraphPagerank, Some(
      s"WITH $EDGE_SQL, " +
        "ow AS (SELECT src, CAST(sum(n) AS BIGINT) outw FROM ed GROUP BY 1), " +
        "ef AS (SELECT ed.src, ed.dst, CAST(ed.n AS DOUBLE) / ow.outw frac FROM ed JOIN ow ON ow.src = ed.src), " +
        "nodes AS (SELECT DISTINCT event_type node FROM events), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) c FROM nodes), " +
        "r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.c rank FROM nodes CROSS JOIN nn)" +
        (1 to 20).map(i =>
          s", r$i AS (SELECT n.node, round(0.15::DOUBLE / nn.c + 0.85::DOUBLE * " +
            s"coalesce(sum(r${i - 1}.rank * ef.frac), CAST(0 AS DOUBLE)), 8) rank " +
            s"FROM nodes n CROSS JOIN nn LEFT JOIN (ef JOIN r${i - 1} ON r${i - 1}.node = ef.src) " +
            s"ON ef.dst = n.node GROUP BY n.node, nn.c)").mkString +
        " SELECT node, rank FROM r20 ORDER BY node")),
    ("q_graph_paths", qGraphPaths, Some(
      "WITH p AS (SELECT event_type e1, " +
        "lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) e2, " +
        "lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) e3 FROM events) " +
        "SELECT e1, e2, e3, CAST(count(*) AS BIGINT) n FROM p WHERE e3 IS NOT NULL " +
        "GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 20")),
    ("q_graph_attribution", qGraphAttribution, Some(
      "WITH lt AS (SELECT event_type, user_id, ts, event_id, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) touch FROM events), " +
        "conv AS (SELECT touch, CAST(count(*) AS BIGINT) conversions FROM lt " +
        "WHERE event_type = 'purchase' AND touch IS NOT NULL GROUP BY 1) " +
        "SELECT touch, conversions, " +
        "round(CAST(conversions AS DOUBLE) / CAST(sum(conversions) OVER () AS BIGINT), 6) AS share " +
        "FROM conv ORDER BY touch")),
    ("q_graph_triangles", qGraphTriangles, Some(
      "WITH p0 AS (SELECT event_type src, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) dst FROM events), " +
        "ed AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b FROM p0 " +
        "WHERE dst IS NOT NULL AND src <> dst) " +
        "SELECT e1.a, e1.b, e2.b c FROM ed e1 " +
        "JOIN ed e2 ON e2.a = e1.b " +
        "JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b " +
        "ORDER BY 1, 2, 3")),
    ("q_graph_degree", qGraphDegree, Some(
      s"WITH $EDGE_SQL, " +
        "o AS (SELECT src node, CAST(count(*) AS BIGINT) out_deg, CAST(sum(n) AS BIGINT) out_w FROM ed GROUP BY 1), " +
        "i AS (SELECT dst node, CAST(count(*) AS BIGINT) in_deg, CAST(sum(n) AS BIGINT) in_w FROM ed GROUP BY 1) " +
        "SELECT coalesce(o.node, i.node) node, coalesce(out_deg, 0) out_deg, coalesce(out_w, 0) out_w, " +
        "coalesce(in_deg, 0) in_deg, coalesce(in_w, 0) in_w " +
        "FROM o FULL JOIN i ON i.node = o.node ORDER BY 1")),
    ("q_graph_attribution_multi", qGraphAttributionMulti, Some(
      "WITH s AS (SELECT user_id, ts, event_id, event_type, " +
        "CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) ti " +
        "FROM events), " +
        "t AS (SELECT user_id, ti, event_type touch FROM s WHERE event_type <> 'purchase'), " +
        "p AS (SELECT user_id, event_id pid, ti tmax, least(ti, 3) k, " +
        "unnest(generate_series(greatest(ti - 2, 1), ti)) ti2 " +
        "FROM s WHERE event_type = 'purchase' AND ti >= 1), " +
        "j AS (SELECT p.pid, t.touch, 6 // p.k lin6, " +
        "CASE WHEN p.k = 1 THEN 100 WHEN p.k = 2 THEN 50 " +
        "WHEN p.tmax - p.ti2 = 1 THEN 20 ELSE 40 END upct " +
        "FROM p JOIN t ON t.user_id = p.user_id AND t.ti = p.ti2) " +
        "SELECT touch, CAST(count(DISTINCT pid) AS BIGINT) conversions, " +
        "round(CAST(sum(lin6) AS DOUBLE) / 6.0, 6) linear_credit, " +
        "round(CAST(sum(upct) AS DOUBLE) / 100.0, 6) u_credit " +
        "FROM j GROUP BY 1 ORDER BY 1")),
    ("q_graph_link_predict", qGraphLinkPredict, Some(
      s"WITH $UND_SQL, " +
        "adj AS (SELECT a node, b nbr FROM und UNION ALL SELECT b node, a nbr FROM und), " +
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) deg FROM adj GROUP BY 1), " +
        "w AS (SELECT a1.node a, a2.node b, a1.nbr u FROM adj a1 JOIN adj a2 ON a2.nbr = a1.nbr " +
        "AND a1.node < a2.node), " +
        "sc AS (SELECT w.a, w.b, CAST(count(*) AS BIGINT) cn, " +
        "round(sum(1.0 / ln(CAST(du.deg AS DOUBLE))), 6) adamic_adar " +
        "FROM w JOIN deg du ON du.node = w.u GROUP BY 1, 2) " +
        "SELECT sc.a, sc.b, sc.cn, " +
        "round(CAST(sc.cn AS DOUBLE) / CAST(da.deg + db.deg - sc.cn AS DOUBLE), 6) jaccard, " +
        "sc.adamic_adar, (und.a IS NOT NULL) is_edge " +
        "FROM sc JOIN deg da ON da.node = sc.a JOIN deg db ON db.node = sc.b " +
        "LEFT JOIN und ON und.a = sc.a AND und.b = sc.b ORDER BY 1, 2")),
    ("q_graph_cluster_coef", qGraphClusterCoef, Some(
      s"WITH $UND_SQL, " +
        "tri AS (SELECT e1.a, e1.b, e2.b c FROM und e1 " +
        "JOIN und e2 ON e2.a = e1.b " +
        "JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b), " +
        "tn AS (SELECT node, CAST(count(*) AS BIGINT) tri FROM " +
        "(SELECT a node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY 1), " +
        "deg AS (SELECT node, CAST(count(*) AS BIGINT) deg FROM " +
        "(SELECT a node FROM und UNION ALL SELECT b FROM und) GROUP BY 1) " +
        "SELECT deg.node, deg.deg, coalesce(tn.tri, 0) tri, " +
        "CASE WHEN deg.deg < 2 THEN NULL ELSE " +
        "round(2.0 * CAST(coalesce(tn.tri, 0) AS DOUBLE) / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6) END cc " +
        "FROM deg LEFT JOIN tn ON tn.node = deg.node ORDER BY 1")),
    ("q_graph_attribution_markov", qGraphAttributionMarkov, Some(
      "WITH seq0 AS (SELECT user_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn FROM events), " +
        "pn AS (SELECT user_id, CAST(min(rn) AS BIGINT) pn FROM seq0 WHERE event_type = 'purchase' GROUP BY 1), " +
        "tch AS (SELECT s.user_id, s.event_type, s.rn, p.pn FROM seq0 s " +
        "LEFT JOIN pn p ON p.user_id = s.user_id " +
        "WHERE s.event_type <> 'purchase' AND (p.pn IS NULL OR s.rn < p.pn)), " +
        "tt AS (SELECT user_id, event_type, pn, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY rn) tn, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) nx FROM tch), " +
        "tr AS (SELECT event_type src, " +
        "coalesce(nx, CASE WHEN pn IS NOT NULL THEN 'CONV' ELSE 'NULL' END) dst FROM tt " +
        "UNION ALL SELECT 'START', event_type FROM tt WHERE tn = 1 " +
        "UNION ALL SELECT 'START', 'CONV' FROM pn WHERE user_id NOT IN (SELECT user_id FROM tt)), " +
        "tc AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) c FROM tr GROUP BY 1, 2), " +
        "rs AS MATERIALIZED (SELECT src, CAST(sum(c) AS BIGINT) n FROM tc GROUP BY 1), " +
        "chs AS MATERIALIZED (SELECT DISTINCT src chn FROM tc WHERE src <> 'START' " +
        "UNION SELECT DISTINCT dst FROM tc WHERE dst NOT IN ('CONV', 'NULL')), " +
        "g AS MATERIALIZED (SELECT rmv.rm, stt.st FROM " +
        "(SELECT '' rm UNION ALL SELECT chn FROM chs) rmv CROSS JOIN " +
        "(SELECT 'START' st UNION ALL SELECT chn FROM chs) stt), " +
        "p0 AS (SELECT rm, st, CAST(0 AS DOUBLE) p FROM g)" +
        (1 to 25).map(k =>
          s", p$k AS MATERIALIZED (SELECT g.rm, g.st, round(coalesce(sum(" +
            "(CAST(tc.c AS DOUBLE) / rs.n) * (CASE WHEN tc.dst = 'CONV' THEN 1.0 " +
            "WHEN tc.dst = 'NULL' OR tc.dst = g.rm THEN 0.0 ELSE pp.p END)), 0.0), 8) p " +
            "FROM g LEFT JOIN tc ON tc.src = g.st LEFT JOIN rs ON rs.src = g.st " +
            s"LEFT JOIN p${k - 1} pp ON pp.rm = g.rm AND pp.st = tc.dst GROUP BY 1, 2)").mkString +
        ", re AS (SELECT chs.chn channel, " +
        "round((SELECT p FROM p25 WHERE rm = '' AND st = 'START'), 6) p_base, " +
        "round((SELECT p FROM p25 b WHERE b.rm = chs.chn AND b.st = 'START'), 6) p_removed, " +
        "CASE WHEN (SELECT p FROM p25 WHERE rm = '' AND st = 'START') > 0 THEN " +
        "round(1.0 - (SELECT p FROM p25 b WHERE b.rm = chs.chn AND b.st = 'START') / " +
        "(SELECT p FROM p25 WHERE rm = '' AND st = 'START'), 6) END removal_effect FROM chs) " +
        ", tot AS (SELECT sum(removal_effect) t FROM re) " +
        "SELECT channel, p_base, p_removed, removal_effect, " +
        "CASE WHEN removal_effect IS NOT NULL AND tot.t > 0 " +
        "THEN round(removal_effect / tot.t, 6) END AS share " + // SHARE is reserved bare in DuckDB

        "FROM re CROSS JOIN tot ORDER BY channel")),
  )
}
