package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch aggregates (SURVEY §2.1-J, parked in round 1): the approximate,
  * mergeable summaries a 100 TB TSDB actually serves dashboards from.
  * Declared WITHOUT oracles (sketch internals differ across engines by
  * design); correctness is bounded by property tests (SketchSpec) against
  * the exact answers, the same pattern as the ANN recall assertions.
  *
  * Scale notes: all three are single-shuffle hash aggregates with partial
  * (map-side) combine — sketch states merge associatively, so they behave
  * exactly like sum/count at any scale. The HLL query additionally shows
  * the REAL production shape: sketch once per day at ingest, store the
  * binary sketch, answer any date-range distinct query later by unioning
  * day sketches — no re-scan of raw data (Apache DataSketches HLL via
  * Spark's hll_sketch_agg / hll_union_agg).
  */
object Sketches {
  /** Approximate distinct users per event type (HyperLogLog++, rsd 1%). */
  val qSketchDistinct: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .orderBy("event_type")

  /** Approximate p50/p95/p99 per event type from the custom t-digest
    * TypedImperativeAggregate (graft.functions.TDigest, δ=200). Replaces
    * the r1–r5 `percentile_approx` form: Greenwald-Khanna states merge
    * lossily and can't be stored/re-aggregated, t-digests can — this IS
    * the serving path a TSDB wants (see qSketchTdigestMerge for the
    * sketch-at-ingest/merge-at-query half). Rank error bounded in
    * SketchSpec against the exact distribution. */
  val qSketchQuantile: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("graft_tdigest(value, 200)").as("sk"))
      .select(col("event_type"),
        expr("graft_tdigest_quantile(sk, 0.5d)").as("p50_approx"),
        expr("graft_tdigest_quantile(sk, 0.95d)").as("p95_approx"),
        expr("graft_tdigest_quantile(sk, 0.99d)").as("p99_approx"))
      .orderBy("event_type")
  }

  /** Mergeable distinct-count: per-day DataSketches-HLL sketches of
    * user_id, unioned up to one estimate — the sketch-at-ingest /
    * merge-at-query TSDB pattern. SketchSpec asserts the merged estimate
    * EQUALS the direct whole-table sketch estimate (union is lossless at
    * equal lgK) and is within 5% of the exact distinct count. */
  val qSketchHllMerge: Q = (s, d) => {
    val perDay = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    perDay.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("approx_users"),
      count(lit(1)).as("n_day_sketches"))
  }

  /** Mergeable quantiles: per-day t-digest sketches of `value`, unioned
    * up to whole-range quantiles — the p99-over-time TSDB read served
    * from stored sketches instead of a raw re-scan. SketchSpec asserts
    * the merged estimate sits within rank tolerance of the exact
    * whole-range quantiles (t-digest union is approximate, not lossless
    * like HLL union — the rank-error bound is the contract). */
  val qSketchTdigestMerge: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(expr("graft_tdigest(value, 200)").as("sk"))
      .agg(expr("graft_tdigest_merge(sk)").as("msk"), count(lit(1)).as("n_day_sketches"))
      .select(
        expr("graft_tdigest_quantile(msk, 0.5d)").as("p50_merged"),
        expr("graft_tdigest_quantile(msk, 0.95d)").as("p95_merged"),
        expr("graft_tdigest_quantile(msk, 0.99d)").as("p99_merged"),
        col("n_day_sketches"))
  }

  /** Fixed-bin value histogram per event type via the custom
    * `graft_hist` TypedImperativeAggregate (graft.functions.HistogramAgg)
    * — the one sketch whose semantics are EXACT, so unlike the three
    * above it carries a full cross-engine oracle: DuckDB rebuilds the
    * same 12-counter layout (underflow + 10 bins + overflow) from the
    * identical floor((v-lo)·bins/(hi-lo)) IEEE expression. */
  val qSketchHistAgg: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("graft_hist(value, 0.0d, 100.0d, 10)").as("hist"))
      // posexplode to scalar (event_type, bin_idx, n) rows: the driver's
      // comparator can't hash array-typed cells
      .select(col("event_type"), posexplode(col("hist")).as(Seq("b", "n")))
      .select(col("event_type"), col("b").cast("long").as("bin_idx"), col("n"))
      .orderBy("event_type", "bin_idx")
  }

  /** Top event types by exact count via the Misra-Gries frequency summary
    * (graft.functions.FreqSketch): capacity 64 ≥ the column's 5 distinct
    * values, so no decrement ever fires, errBound stays 0, and the summary
    * IS the exact group-count — which is what lets this sketch entry carry
    * a full cross-engine oracle (same pattern as graft_hist). The
    * (count desc, item asc) output order is total, hence deterministic. */
  val qSketchFreqExact: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .agg(expr("graft_freq(event_type, 64)").as("sk"))
      .select(posexplode(expr("graft_freq_topk(sk, 5)")))
      .select((col("pos") + 1).cast("long").as("rnk"),
        col("col.item").as("event_type"), col("col.cnt_min").as("cnt"))
      .orderBy("rnk")
  }

  /** Heavy-hitter users from MERGED per-day Misra-Gries summaries —
    * sketch-at-ingest / merge-at-query for top-k, the third leg of the
    * serving triad (HLL distinct, t-digest quantiles, MG heavy hitters).
    * capacity 32 < the ~150 distinct users at sf0.01, so estimates are
    * genuinely approximate: cnt_min ≤ true ≤ cnt_min + err, err ≤
    * N/(capacity+1), bounds asserted in SketchSpec. */
  val qSketchFreqHh: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(expr("graft_freq(cast(user_id as string), 32)").as("sk"))
      .agg(expr("graft_freq_merge(sk)").as("msk"), count(lit(1)).as("n_day_sketches"))
      .select(col("n_day_sketches"), expr("graft_freq_err(msk)").as("err"),
        posexplode(expr("graft_freq_topk(msk, 10)")))
      .select(col("n_day_sketches"), col("err"),
        (col("pos") + 1).cast("long").as("rnk"),
        col("col.item").as("user_id"), col("col.cnt_min").as("cnt_min"))
      .orderBy("rnk")
  }

  /** histogram_quantile — the metrics-TSDB read: quantiles served from
    * the STORED exact histogram (graft_hist) by uniform-within-bin
    * interpolation, no raw re-scan. Unlike the t-digest tier this is
    * fully deterministic (exact integer bin counts + fixed IEEE
    * interpolation), so it carries a complete cross-engine oracle: DuckDB
    * rebuilds the same bins and applies the same selection + arithmetic
    * in SQL. */
  val qSketchHistQuantile: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("graft_hist(value, 0.0d, 100.0d, 10)").as("hist"))
      .select(col("event_type"),
        Num.roundd(expr("graft_hist_quantile(hist, 0.0d, 100.0d, 0.5d)"), 6).as("p50_hist"),
        Num.roundd(expr("graft_hist_quantile(hist, 0.0d, 100.0d, 0.9d)"), 6).as("p90_hist"))
      .orderBy("event_type")
  }

  /** Distinct-set INTERSECTION from two stored sketches — "how many users
    * did both X and Y" without a raw re-scan — via the KMV bottom-k sketch
    * (graft.functions.KmvSketch). Because the sketch state is a pure
    * function of the input set (k smallest distinct md5 hashes) and the
    * Beyer et al. estimators are closed-form over that state, this is the
    * one distinct-sketch entry whose ESTIMATES hash-match a cross-engine
    * oracle: DuckDB rebuilds both states with ORDER BY hash LIMIT k and
    * applies the identical arithmetic. One scan, one hash aggregate
    * (conditional inputs), O(k) state per side. */
  val qSketchKmvIntersect: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val h = Dedup.h60("'kmv'", "cast(user_id as string)")
    Tables.events(s, d)
      .agg(
        expr(s"graft_kmv(CASE WHEN event_type = 'click' THEN $h END, 64)").as("ska"),
        expr(s"graft_kmv(CASE WHEN event_type = 'view' THEN $h END, 64)").as("skb"))
      .select(
        Num.roundd(expr("graft_kmv_est(ska)"), 4).as("est_click"),
        Num.roundd(expr("graft_kmv_est(skb)"), 4).as("est_view"),
        Num.roundd(expr("graft_kmv_inter(ska, skb)"), 4).as("est_both"))
  }

  /** Sketch-at-ingest / merge-at-query for KMV, DRIVER-VERIFIED: per-day
    * sketches of distinct users merged up to one whole-range estimate.
    * KMV union is lossless (the k smallest of a union are among the
    * per-part k smallest), so the merged state equals the
    * sketch-the-world state and the estimate keeps its closed-form
    * oracle — the only merge path in the sketch tier DuckDB can check
    * exactly (HLL/t-digest merges are engine-internal). */
  val qSketchKmvMergeDays: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val h = Dedup.h60("'kmv'", "cast(user_id as string)")
    Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(expr(s"graft_kmv($h, 64)").as("sk"))
      .agg(expr("graft_kmv_merge(sk)").as("msk"), count(lit(1)).as("n_day_sketches"))
      .select(Num.roundd(expr("graft_kmv_est(msk)"), 4).as("est_users"),
        col("n_day_sketches"))
  }

  /** Count-Min sketch point queries, ORACLE-BACKED: the 4×256 counter
    * matrix is md5-derived (the repo's engine-portable hash device), so
    * the sketch state — and therefore every ESTIMATE, not just an error
    * bound — is bit-reproducible in DuckDB SQL. The relational
    * formulation IS the distributed CM build: counters are one
    * map-side-combining aggregate of (row, bucket) cells (the 4× row
    * explode is a literal array), merging sketches = adding counter
    * matrices, which the shuffle already does. est(u) = min over rows of
    * the u-bucket counter; CM guarantees est ≥ exact (overestimate only,
    * from collisions), asserted per probe in the output itself. Probes =
    * the 20 smallest user ids; exact counts ride the same scan. */
  val qSketchCmPoint: Q = (s, d) => {
    def hj(j: Int) = s"pmod(${Dedup.h60(s"'cm$j'", "cast(user_id as string)")}, 256)"
    // Pre-aggregate per key BEFORE hashing: a bucket's counter is the sum
    // of its keys' counts, so the 4 md5 rows ride the |users| panel, not
    // the raw event scan (4·|keys| hashes instead of 4·|events| — the
    // same partial-aggregate-first rule every sketch build follows at
    // scale; counters are bit-identical either way).
    val perUser = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val cells = perUser
      .select(col("user_id"), col("n"), explode(expr("array(0, 1, 2, 3)")).as("j"))
      .withColumn("bucket", expr(
        s"CASE WHEN j = 0 THEN ${hj(0)} WHEN j = 1 THEN ${hj(1)} WHEN j = 2 THEN ${hj(2)} ELSE ${hj(3)} END"))
      .groupBy("j", "bucket").agg(sum("n").as("c"))
    // probes share the per-user panel — identical subplan, so the
    // exchange is computed once and reused (ReuseExchange)
    val probes = perUser.select(col("user_id"), col("n").as("exact"))
      .orderBy("user_id").limit(20)
    val pj = probes.select(col("user_id"), col("exact"),
        explode(expr("array(0, 1, 2, 3)")).as("j"))
      .withColumn("bucket", expr(
        s"CASE WHEN j = 0 THEN ${hj(0)} WHEN j = 1 THEN ${hj(1)} WHEN j = 2 THEN ${hj(2)} ELSE ${hj(3)} END"))
    pj.join(cells, Seq("j", "bucket"))
      .groupBy("user_id", "exact")
      .agg(min("c").as("est"))
      .withColumn("overest", col("est") - col("exact"))
      .select("user_id", "exact", "est", "overest")
      .orderBy("user_id")
  }

  val all: Seq[Entry] = Seq(
    Entry("q_sketch_cm_point", qSketchCmPoint, Some({
      def hj(j: Int) =
        s"CAST('0x' || substr(md5('cm$j' || ':' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256"
      "WITH cj AS (SELECT user_id, unnest([0, 1, 2, 3]) j FROM events), " +
        s"cb AS (SELECT j, CASE WHEN j = 0 THEN ${hj(0)} WHEN j = 1 THEN ${hj(1)} " +
        s"WHEN j = 2 THEN ${hj(2)} ELSE ${hj(3)} END bucket FROM cj), " +
        "cells AS (SELECT j, bucket, CAST(count(*) AS BIGINT) c FROM cb GROUP BY 1, 2), " +
        "probes AS (SELECT user_id, CAST(count(*) AS BIGINT) exact FROM events GROUP BY 1 ORDER BY user_id LIMIT 20), " +
        "pj AS (SELECT user_id, exact, unnest([0, 1, 2, 3]) j FROM probes), " +
        s"pb AS (SELECT user_id, exact, j, CASE WHEN j = 0 THEN ${hj(0)} WHEN j = 1 THEN ${hj(1)} " +
        s"WHEN j = 2 THEN ${hj(2)} ELSE ${hj(3)} END bucket FROM pj) " +
        "SELECT pb.user_id, pb.exact, CAST(min(cells.c) AS BIGINT) est, " +
        "CAST(min(cells.c) - pb.exact AS BIGINT) overest " +
        "FROM pb JOIN cells ON cells.j = pb.j AND cells.bucket = pb.bucket " +
        "GROUP BY 1, 2 ORDER BY 1"
    })),
    Entry("q_sketch_distinct", qSketchDistinct, None), // approximate by design; error bounded in SketchSpec
    Entry("q_sketch_quantile", qSketchQuantile, None), // approximate by design; t-digest rank error bounded in SketchSpec
    Entry("q_sketch_hll_merge", qSketchHllMerge, None), // approximate by design; merge-losslessness asserted in SketchSpec
    Entry("q_sketch_tdigest_merge", qSketchTdigestMerge, None), // approximate by design; merged rank error bounded in SketchSpec
    Entry("q_sketch_kmv_merge_days", qSketchKmvMergeDays, Some(
      "WITH h AS (SELECT DISTINCT CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) hv FROM events), " +
        "k AS (SELECT list_sort(list(hv))[:64] l, count(*) n FROM h), " +
        "d AS (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) nd FROM events) " +
        "SELECT round(CASE WHEN k.n < 64 THEN CAST(k.n AS DOUBLE) " +
        "ELSE 63.0 / (CAST(k.l[64] AS DOUBLE) / 1152921504606846976.0) END, 4) est_users, d.nd n_day_sketches " +
        "FROM k, d")),
    Entry("q_sketch_kmv_intersect", qSketchKmvIntersect, Some(
      "WITH h AS (SELECT DISTINCT event_type, CAST('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) hv " +
        "FROM events WHERE event_type IN ('click', 'view')), " +
        "ka AS (SELECT list_sort(list(hv))[:64] l FROM h WHERE event_type = 'click'), " +
        "kb AS (SELECT list_sort(list(hv))[:64] l FROM h WHERE event_type = 'view'), " +
        "u AS (SELECT ka.l la, kb.l lb, list_sort(list_distinct(ka.l || kb.l)) mg FROM ka, kb), " +
        "v AS (SELECT la, lb, mg, least(64, len(mg)) kk FROM u), " +
        "w AS (SELECT la, lb, mg, kk, " +
        "len(list_filter(mg[:kk], x -> list_contains(la, x) AND list_contains(lb, x))) cb, " +
        "CASE WHEN len(mg) < 64 THEN CAST(len(mg) AS DOUBLE) " +
        "ELSE (kk - 1) / (CAST(mg[kk] AS DOUBLE) / 1152921504606846976.0) END du FROM v) " +
        "SELECT " +
        "round(CASE WHEN len(la) < 64 THEN CAST(len(la) AS DOUBLE) ELSE 63.0 / (CAST(la[64] AS DOUBLE) / 1152921504606846976.0) END, 4) est_click, " +
        "round(CASE WHEN len(lb) < 64 THEN CAST(len(lb) AS DOUBLE) ELSE 63.0 / (CAST(lb[64] AS DOUBLE) / 1152921504606846976.0) END, 4) est_view, " +
        "round(CAST(cb AS DOUBLE) / kk * du, 4) est_both FROM w")),
    Entry("q_sketch_freq_exact", qSketchFreqExact, Some(
      "SELECT CAST(row_number() OVER (ORDER BY cnt DESC, event_type) AS BIGINT) rnk, event_type, cnt " +
        "FROM (SELECT event_type, CAST(count(*) AS BIGINT) cnt FROM events GROUP BY 1) ORDER BY rnk")),
    Entry("q_sketch_freq_hh", qSketchFreqHh, None), // approximate by design; MG under/over bounds asserted in SketchSpec
    Entry("q_sketch_hist_quantile", qSketchHistQuantile, Some(
      "WITH b AS (SELECT event_type, CASE WHEN value < 0.0 THEN 0 WHEN value >= 100.0 THEN 11 " +
        "ELSE 1 + CAST(floor((value - 0.0) * 10 / (100.0 - 0.0)) AS INT) END idx FROM events), " +
        "c AS (SELECT event_type, idx, count(*) n FROM b GROUP BY 1, 2), " +
        "cum AS (SELECT event_type, idx, n, sum(n) OVER (PARTITION BY event_type ORDER BY idx) - n cb, " +
        "sum(n) OVER (PARTITION BY event_type) total FROM c), " +
        "sel AS (SELECT cum.*, qq, qq * total target FROM cum, (SELECT unnest([0.5, 0.9]) qq)), " +
        "hit AS (SELECT *, row_number() OVER (PARTITION BY event_type, qq ORDER BY idx) rn FROM sel " +
        "WHERE cb < target AND target <= cb + n), " +
        "v AS (SELECT event_type, qq, round(CASE WHEN idx = 0 THEN 0.0 WHEN idx = 11 THEN 100.0 " +
        "ELSE 0.0 + (idx - 1) * 10.0 + 10.0 * (target - cb) / n END, 6) val FROM hit WHERE rn = 1) " +
        "SELECT event_type, max(CASE WHEN qq = 0.5 THEN val END) p50_hist, " +
        "max(CASE WHEN qq = 0.9 THEN val END) p90_hist FROM v GROUP BY event_type ORDER BY event_type")),
    Entry("q_sketch_hist_agg", qSketchHistAgg, Some(
      "WITH b AS (SELECT event_type, CASE WHEN value < 0.0 THEN 0 WHEN value >= 100.0 THEN 11 " +
        "ELSE 1 + CAST(floor((value - 0.0) * 10 / (100.0 - 0.0)) AS INT) END idx FROM events), " +
        "c AS (SELECT event_type, idx, CAST(count(*) AS BIGINT) n FROM b GROUP BY 1, 2), " +
        "g AS (SELECT event_type, i FROM (SELECT DISTINCT event_type FROM events), (SELECT unnest(range(12)) i)), " +
        "j AS (SELECT g.event_type, g.i, coalesce(c.n, 0) n FROM g LEFT JOIN c ON c.event_type = g.event_type AND c.idx = g.i) " +
        "SELECT event_type, CAST(i AS BIGINT) bin_idx, n FROM j ORDER BY event_type, bin_idx"))
  )
}
