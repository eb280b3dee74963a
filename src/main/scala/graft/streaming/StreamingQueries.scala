package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming ingestion path (SURVEY.md §2.1-I).
  *
  * Each operator has two faces sharing one transform:
  *  - `xxxBatch` — the batch-equivalent DataFrame, registered in
  *    SparkEntry.queries so Verify/Bench can execute it (the harness writer
  *    is non-streaming). Where the semantics are SQL-expressible the entry
  *    also carries an oracle; notably q_stream_session cross-checks Spark's
  *    native `session_window` operator against the independent
  *    gaps-and-islands SQL formulation in DuckDB.
  *  - `xxxStream` — the same transform applied to a `readStream` source with
  *    watermarks, used by the replay harness (StreamReplay) and the parity
  *    tests: closed windows from the stream must equal the batch twin.
  *
  * Scale notes: tumbling/session aggregations keep per-key state in the
  * state store, bounded by the watermark; dropDuplicatesWithinWatermark
  * bounds dedup state by event-time instead of retaining all keys forever —
  * the only viable shape for an unbounded 100 TB/day event feed. The
  * stream-static join broadcasts nothing per microbatch beyond the static
  * side's plan; at cluster scale the static dim should be compact or
  * bucketed on the join key.
  */
object StreamingQueries {
  type Q = (SparkSession, String) => DataFrame

  /** events schema as produced by Tables.events (ts already TIMESTAMP_NTZ
    * is not streamable from raw parquet — the stream reads the raw ns longs
    * and applies the same conversion). */
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // ns since epoch (nanosAsLong)
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over a directory of parquet files (the replay dir),
    * applying the identical ns→µs recipe as the batch loader. NOTE: the
    * stream keeps TIMESTAMP (not NTZ) — `withWatermark` requires an
    * instant-typed event-time column; under the forced-UTC session the two
    * are wall-clock identical, and parity tests cast before comparing. */
  def eventsStream(s: SparkSession, dir: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val reader = LocalCheckpointFs.readStream(s).schema(rawSchema)
    val withOpt = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    withOpt.parquet(dir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
  }

  // ---- shared transforms (batch & stream) ---------------------------------

  private def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w"), col("event_type"), col("cnt"))

  /** Sliding 3 h / 1 h hop counts per type — each event serves the 3
    * hourly-aligned windows covering it (Spark's Expand under window();
    * streaming state = open windows × types, bounded by the watermark,
    * never by history). */
  private def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "3 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w"), col("event_type"), col("cnt"))

  private def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("s_start"),
        col("n_events"))

  /** Stream-stream interval join core: purchases within (click, click+30m]
    * by the same user. The equi-key is user_id; the time bound is what
    * makes the join state PRUNABLE — with watermarks on both sides, each
    * side's state store retains only rows whose join window can still
    * match (Spark derives the eviction bound from the interval condition).
    * Without the time bound a stream-stream join would buffer forever. */
  private def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks
      .select(col("user_id").as("cu"), col("ts").as("ct"))
      .join(
        purchases.select(col("user_id").as("pu"), col("ts").as("pt")),
        col("pu") === col("cu") &&
          col("pt") > col("ct") &&
          col("pt") <= col("ct") + expr("INTERVAL 30 MINUTES"))

  /** Left-outer variant of the interval join, carrying the click id so
    * unmatched clicks are first-class rows: a click with NO purchase in
    * its 30-minute window emits with a null purchase side — but only
    * once the watermark proves no purchase can still arrive (event time
    * past ct + 30 min + the purchase-side delay). That lateness bound is
    * what makes outer results CORRECT on an unbounded stream, not just
    * eventually complete; state eviction follows the same bound. */
  private def clickPurchaseOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks
      .select(col("event_id").as("cid"), col("user_id").as("cu"), col("ts").as("ct"))
      .join(
        purchases.select(col("user_id").as("pu"), col("ts").as("pt")),
        col("pu") === col("cu") &&
          col("pt") > col("ct") &&
          col("pt") <= col("ct") + expr("INTERVAL 30 MINUTES"),
        "left_outer")

  private def burnCounters(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"),
        count(lit(1)).as("tot"))
      .select(col("window.start").as("h"), col("err"), col("tot"))

  // ---- batch twins (registered in SparkEntry.queries) ---------------------

  val qStreamTumblingWm: Q = (s, d) =>
    tumblingCounts(Tables.events(s, d)).orderBy("w", "event_type")

  val qStreamSliding: Q = (s, d) =>
    slidingCounts(Tables.events(s, d)).orderBy("w", "event_type")

  val qStreamBurnCounters: Q = (s, d) =>
    burnCounters(Tables.events(s, d)).orderBy("h")

  /** Batch twin of the first-seen screen: each series' event-time first
    * event — what the sealed stream admissions must equal. */
  val qStreamFirstSeen: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id").agg(min("ts").as("first_ts"))
      .orderBy("user_id")

  /** Batch twin of the streaming DAU seal ([[StatefulDau]]): exact
    * distinct users per epoch day — what each sealed day must equal
    * (parity held ordered + jittered in StreamParitySpec). */
  val qStreamDau: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(expr("unix_micros(cast(ts as timestamp)) div 86400000000 * 86400000000").as("day_us"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("day_us")

  /** Native session_window vs the DuckDB gaps-and-islands oracle: same
    * 30-minute gap rule, independently formulated — a real cross-engine,
    * cross-algorithm check. session_window closes a session when the NEXT
    * event is > gap later; islands SQL starts a new island the same way. */
  val qStreamSession: Q = (s, d) =>
    sessionAgg(Tables.events(s, d)).orderBy("user_id", "s_start")

  val qStreamDedup: Q = (s, d) =>
    Tables.events(s, d)
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")

  val qStreamStaticJoin: Q = (s, d) =>
    Tables.events(s, d)
      .join(Tables.customer(s, d), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")

  val qStreamIntervalJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    clickPurchaseJoin(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"))
      .groupBy(col("cu").as("user_id"))
      .agg(
        count(lit(1)).as("n_pairs"),
        min(expr("unix_micros(cast(pt as timestamp)) - unix_micros(cast(ct as timestamp))")).as("min_lag_us"))
      .orderBy("user_id")
  }

  /** Batch twin of the stream-stream LEFT OUTER interval join: every
    * click with its purchase count and fastest conversion lag inside the
    * 30-minute window — nulls where no purchase came. The per-click
    * rollup keeps the output keyed by click id, so the row set is
    * |clicks| at any scale and the unmatched clicks (the rows an INNER
    * join silently drops — usually the interesting ones) are visible to
    * the hash gate. */
  val qStreamOuterJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
    clickPurchaseOuter(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"))
      .groupBy(col("cid"), col("cu"), col("ct"))
      .agg(count(col("pt")).as("n_purch"),
        min(expr("unix_micros(cast(pt as timestamp)) - unix_micros(cast(ct as timestamp))")).as("min_lag_us"))
      .orderBy("cid")
  }

  // ---- streaming faces ----------------------------------------------------

  def tumblingStream(s: SparkSession, dir: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame =
    tumblingCounts(eventsStream(s, dir, maxFilesPerTrigger).withWatermark("ts", "10 minutes"))

  def sessionStream(s: SparkSession, dir: String): DataFrame =
    sessionAgg(eventsStream(s, dir).withWatermark("ts", "30 minutes"))

  def slidingStream(s: SparkSession, dir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame =
    slidingCounts(eventsStream(s, dir, maxFilesPerTrigger).withWatermark("ts", "10 minutes"))

  def dedupStream(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  def staticJoinStream(s: SparkSession, dir: String, sfDir: String): DataFrame =
    eventsStream(s, dir)
      .join(Tables.customer(s, sfDir), col("user_id") === col("c_custkey"))

  /** OHLC bars as a streaming aggregation: min_by/max_by are declarative
    * aggregates, so per-(window, type) state is four scalars + a count —
    * never the window's rows — and the watermark closes bars in event
    * time. The batch twin is TimeSeries.qTsOhlc (date_trunc('hour') ≡
    * window('1 hour').start under UTC); StreamParitySpec holds them
    * equal on closed bars. */
  def ohlcStream(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"), col("n"))

  /** Per-window t-digest sketching at ingest — the streaming half of the
    * sketch-at-ingest / merge-at-query serving pattern (Sketches.scala):
    * each closed (hour, event_type) window emits its value-distribution
    * sketch as a storable BINARY column plus the exact count.
    * TypedImperativeAggregate buffers serialize into the state store
    * between microbatches, so per-open-window state is O(δ), never the
    * window's rows — with the watermark bounding the number of open
    * windows, an unbounded feed sketches in constant memory per key.
    * Any later quantile-over-range query is `graft_tdigest_merge` over
    * the stored sketches — no raw-data re-scan (StreamParitySpec holds
    * both the per-window and the merged quantiles to rank tolerance
    * against the exact distribution). */
  def tdigestStream(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(expr("graft_tdigest(value, 100)").as("sketch"), count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("event_type"), col("sketch"), col("n"))
  }

  /** Streaming heavy-hitters face — per-window Misra-Gries summaries
    * sketched at ingest, the third leg of the streaming sketch triad next
    * to tdigestStream (quantiles) and the HLL batch tier (distinct):
    * windows close under the watermark carrying a mergeable binary
    * summary (graft.functions.FreqSketch); any later range query unions
    * the stored summaries with graft_freq_merge instead of re-scanning
    * raw events. State per open window is O(capacity), not O(users) —
    * the only viable top-k shape for an unbounded feed. */
  def freqStream(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("graft_freq(cast(user_id as string), 64)").as("sketch"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("sketch"), col("n"))
  }

  /** The streaming half of the continuous-aggregate pattern
    * (sources/Ingest.eventsHourlyRollup): per closed (hour, type) window,
    * the SAME (cnt, sv8) hourly partials the batch rollup stores — in
    * production this writeStream appends each window to the rollup table
    * as its watermark closes, and Ingest.caggDailyMerge serves day-grain
    * queries from rollup + raw tail without re-scanning closed history
    * (StreamParitySpec wires exactly that end-to-end). State per open
    * window is two scalars, watermark-bounded. */
  def hourlyRollupStream(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Num.roundd(sum("value"), 8).as("sv8"))
      .select(col("window.start").as("h"), col("event_type"), col("cnt"), col("sv8"))

  /** Streaming distinct-users face — per-window KMV sketches
    * (graft.functions.KmvSketch), the fourth leg of the streaming sketch
    * set (t-digest quantiles, Misra-Gries heavy hitters, hourly rollup
    * partials): each closed window carries a storable bottom-k state;
    * any later range-distinct or cross-window intersection query merges
    * the stored sketches (losslessly, unlike HLL only up to k) instead
    * of re-scanning raw events. State per open window is O(k). */
  def kmvStream(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val h = graft.operators.Dedup.h60("'kmv'", "cast(user_id as string)")
    eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr(s"graft_kmv($h, 64)").as("sketch"), count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("sketch"), col("n"))
  }

  /** Streaming SLO burn-rate counters — the ingest half of Ops.qTsBurnRate:
    * per closed hour, the (err, tot) conditional counters the burn-rate
    * arithmetic divides. The 1h/6h trailing ratios, budget divide, and
    * alert flag run at SERVE time over the sealed hourly table (trailing
    * frames need closed neighbors, and counters — unlike ratios — merge
    * across late re-aggregation), so the stream's whole job is two longs
    * of state per open window. */
  def burnRateStream(s: SparkSession, dir: String): DataFrame =
    burnCounters(eventsStream(s, dir).withWatermark("ts", "10 minutes"))

  /** Streaming first-seen screen (series churn at ingest) — see
    * [[StatefulFirstSeen]]: exactly one admission per user_id, at its
    * event-time first event, sealed under the watermark. */
  def firstSeenStream(s: SparkSession, dir: String): DataFrame =
    StatefulFirstSeen.firstSeenStream(
      eventsStream(s, dir).withWatermark("ts", "10 minutes")).toDF()

  /** Streaming exact daily-distinct users — see [[StatefulDau]]: one
    * sealed (day, n_users) emission per day once the watermark passes
    * the day boundary. */
  def dauStream(s: SparkSession, dir: String): DataFrame =
    StatefulDau.dauStream(
      eventsStream(s, dir).withWatermark("ts", "10 minutes")).toDF()

  /** Stream-stream interval join face: both sides from the same replayed
    * source, watermarked so join state evicts once pt can no longer land
    * in any open (ct, ct+30m] window. */
  def intervalJoinStream(s: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(s, dir)
    clickPurchaseJoin(
      src.filter(col("event_type") === "click").withWatermark("ts", "10 minutes"),
      src.filter(col("event_type") === "purchase").withWatermark("ts", "40 minutes"))
  }

  /** Streaming face of the left-outer interval join. Spark holds an
    * unmatched click in state until the watermark passes ct + 30 min +
    * the purchase-side lateness bound, then emits it with a null
    * purchase side — so a null row is a PROOF of absence under the
    * declared lateness, not a timing accident. */
  def outerJoinStream(s: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(s, dir)
    clickPurchaseOuter(
      src.filter(col("event_type") === "click").withWatermark("ts", "10 minutes"),
      src.filter(col("event_type") === "purchase").withWatermark("ts", "40 minutes"))
  }

  /** Batch face of the STREAM-STREAM AS-OF enrichment (StreamAsof): the
    * sensor probes are all non-signup events, the slowly-changing
    * reference is each user's signup stream, and every probe takes the
    * latest reference value at-or-before its time. The oracle is DuckDB's
    * native ASOF LEFT JOIN — an independent implementation of the same
    * semantics. StreamParitySpec holds StreamAsof.asofEnrich equal to
    * this transform on the sealed prefix under ordered + jittered
    * replay. */
  val qStreamAsof: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev.filter(col("event_type") =!= "signup")
    val ref = ev.filter(col("event_type") === "signup")
      .select("user_id", "ts", "value")
    graft.operators.AsofJoin.keyedAsof(probes, ref, "user_id", "ts", "ts", "value")
      .select(col("event_id"), col("asof_value"))
      .orderBy("event_id")
  }

  /** Streaming PromQL alert rule — the Prometheus alerting pipeline on
    * Structured Streaming: `sum by (type) (rate(events{type=~re}[1h]))
    * > thr` evaluated incrementally. The [1h] range is the tumbling
    * grid, so eval points (windows with ≥1 own sample) and the closed-
    * window append-mode emissions coincide exactly; state = open hourly
    * windows × matched types, bounded by the watermark. The count-vs-
    * threshold compare runs on the exact long (cnt > thr·3600), the same
    * split the batch compiler's unrounded c/3600 > thr makes. */
  def promqlAlertStream(s: SparkSession, dir: String,
                        typeRegex: String = "error|click",
                        thr: Double = 0.0004): DataFrame =
    eventsStream(s, dir)
      .filter(col("event_type").rlike("^(?:" + typeRegex + ")$"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(thr * 3600.0))
      .select(col("event_type").as("type"),
        col("window.start").as("h"),
        graft.operators.Num.roundd(col("cnt").cast("double") / 3600.0, 6).as("value"))

  /** Batch twin of the streaming alert: the LITERAL PromQL text through
    * the front-door compiler — StreamParitySpec holds the stream's
    * closed-window emissions equal to this, so the alerting pipeline and
    * the dashboard query provably agree. */
  val qStreamPromqlAlert: Q = (s, d) =>
    graft.promql.PromQL.query(s, d,
      """sum by (type) (rate(events{type=~"error|click"}[1h])) > 0.0004""")

  /** Batch twin of the streaming Page–Hinkley detector (StatefulPh): the
    * per-hour PH trace over the gapless hourly panel — the step before
    * q_ts_page_hinkley's per-type rollup. StreamParitySpec holds the
    * stream's hour-sealed emissions bit-equal to this on the sealed
    * prefix; the DuckDB oracle replays the same micro-unit fold. */
  val qStreamPageHinkley: Q = (s, d) =>
    graft.operators.Change.phTrace(s, d)
      .select(col("et").as("event_type"), col("h"),
        graft.operators.Num.roundd(col("ph").cast("double") / 1e6, 6).as("ph"),
        when(col("ph") > graft.operators.Change.LambdaMicro, 1L).otherwise(0L).as("alarm"))
      .orderBy("event_type", "h")

  /** Batch twin of the streaming hysteresis burst detector
    * (StatefulBurst): causal running-mean thresholds, closed episodes
    * only — StreamParitySpec holds the stream's sealed emissions
    * bit-equal to this; the DuckDB oracle replays the same windows. */
  val qStreamBurst: Q = (s, d) =>
    graft.operators.Change.burstCausalEpisodes(s, d)

  /** Geofence hit counter — the streaming face of the geo tier's
    * grid-bucketed spatial join: each event's derived point maps to its
    * 10° cell, the STATIC supplier-box side is pre-exploded to covering
    * cells (Geo.boxCells — ≤16 rows per box, broadcastable at any
    * corpus size), the stream-static join is a BroadcastHashJoin on
    * cell id with the exact containment as residual (never a
    * per-micro-batch nested loop), and hits roll up per (hour, fence)
    * under the watermark. State = open windows × fences, bounded. */
  private def geofenceHits(events: DataFrame, bx: DataFrame): DataFrame =
    graft.operators.Geo.withEventPoint(events.select(col("ts"), col("event_id")))
      .withColumn("cell", graft.operators.Geo.cellOf(col("elat"), col("elon")))
      .join(broadcast(bx), "cell")
      .filter(graft.operators.Geo.inBox(col("elat"), col("elon")))
      .groupBy(window(col("ts"), "1 hour"), col("bid"))
      .agg(count(lit(1)).as("hits"))
      .select(col("window.start").as("h"), col("bid"), col("hits"))

  val qStreamGeofence: Q = (s, d) =>
    geofenceHits(Tables.events(s, d),
      graft.operators.Geo.boxCells(graft.operators.Geo.boxes(s, d)))
      .orderBy("h", "bid")

  def geofenceStream(s: SparkSession, dir: String, sfDir: String): DataFrame =
    geofenceHits(eventsStream(s, dir).withWatermark("ts", "2 hours"),
      graft.operators.Geo.boxCells(graft.operators.Geo.boxes(s, sfDir)))

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q_stream_geofence", qStreamGeofence, Some(
      "WITH boxes AS (SELECT s_suppkey bid, " +
        "CAST((s_suppkey * 4817) % 1500 AS DOUBLE) / 10.0 - 75.0 blat, " +
        "CAST((s_suppkey * 12391) % 3300 AS DOUBLE) / 10.0 - 165.0 blon, " +
        "CAST(s_suppkey % 7 + 1 AS DOUBLE) hh, CAST(s_suppkey % 11 + 2 AS DOUBLE) hw FROM supplier), " +
        "ev AS (SELECT date_trunc('hour', ts) h, " +
        "CAST((event_id * 4621) % 1600 AS DOUBLE) / 10.0 - 80.0 elat, " +
        "CAST((event_id * 9043) % 3500 AS DOUBLE) / 10.0 - 175.0 elon FROM events) " +
        "SELECT h, bid, count(*) hits FROM ev JOIN boxes ON " +
        "elat BETWEEN blat - hh AND blat + hh AND elon BETWEEN blon - hw AND blon + hw " +
        "GROUP BY h, bid ORDER BY h, bid")),
    ("q_stream_burst", qStreamBurst, Some(
      "WITH g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, " +
        "CAST(coalesce(hc.c, 0) AS BIGINT) c FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "mk AS (SELECT et, x, c, CAST(CASE " +
        "WHEN 2 * c * (x + 1) > 3 * sum(c) OVER wc THEN 1 " +
        "WHEN c * (x + 1) < sum(c) OVER wc THEN -1 ELSE 0 END AS BIGINT) mark FROM p " +
        "WINDOW wc AS (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "nz AS (SELECT *, CAST(sum(CASE WHEN mark <> 0 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) nzgrp FROM mk), " +
        "st AS (SELECT *, max(CASE WHEN mark <> 0 THEN mark END) OVER (PARTITION BY et, nzgrp) lastnz FROM nz), " +
        "b AS (SELECT et, x, c, x - row_number() OVER (PARTITION BY et ORDER BY x) eid FROM st WHERE lastnz = 1), " +
        "ep AS (SELECT et, eid, min(x) sx, max(x) ex, CAST(count(*) AS BIGINT) n_hours, " +
        "CAST(max(c) AS BIGINT) peak, CAST(sum(c) AS BIGINT) total FROM b GROUP BY 1, 2) " +
        "SELECT et event_type, TIMESTAMP '2024-01-01' + sx * INTERVAL 1 HOUR start_h, " +
        "TIMESTAMP '2024-01-01' + ex * INTERVAL 1 HOUR end_h, n_hours, peak, total " +
        "FROM ep WHERE ex < 719 ORDER BY 1, 2")),
    ("q_stream_promql_alert", qStreamPromqlAlert, Some(
      "WITH c AS (SELECT event_type ty, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) n " +
        "FROM events WHERE regexp_matches(event_type, '^(?:error|click)$') GROUP BY 1, 2) " +
        "SELECT ty AS \"type\", h, round(CAST(n AS DOUBLE)/3600.0, 6) AS \"value\" " +
        "FROM c WHERE CAST(n AS DOUBLE)/3600.0 > 0.0004 ORDER BY 1, 2")),
    ("q_stream_page_hinkley", qStreamPageHinkley, Some(
      "WITH g AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)) h), " +
        "ty AS (SELECT DISTINCT event_type et FROM events), " +
        "hc AS (SELECT event_type et, date_trunc('hour', ts) h, CAST(count(*) AS BIGINT) c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT ty.et, CAST(datediff('hour', TIMESTAMP '2024-01-01', g.h) AS BIGINT) x, coalesce(hc.c, 0) c " +
        "FROM ty CROSS JOIN g LEFT JOIN hc ON hc.et = ty.et AND hc.h = g.h), " +
        "w AS (SELECT et, x, c, " +
        "CAST(sum(c) OVER (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cx FROM p), " +
        "t AS (SELECT et, x, CAST(round((CAST(c AS DOUBLE) - CAST(cx AS DOUBLE) / CAST(x + 1 AS DOUBLE) - 0.5) * 1000000, 0) AS BIGINT) t6 FROM w), " +
        "m AS (SELECT et, x, CAST(sum(t6) OVER wc AS BIGINT) m FROM t " +
        "WINDOW wc AS (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "ph AS (SELECT et, x, m - CAST(min(m) OVER wc AS BIGINT) ph FROM m " +
        "WINDOW wc AS (PARTITION BY et ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT et event_type, TIMESTAMP '2024-01-01' + x * INTERVAL 1 HOUR h, " +
        "round(CAST(ph AS DOUBLE) / 1000000, 6) ph, " +
        "CAST(CASE WHEN ph > 100000000 THEN 1 ELSE 0 END AS BIGINT) alarm " +
        "FROM ph ORDER BY event_type, h")),
    ("q_stream_asof", qStreamAsof, Some(
      "WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'signup'), " +
        "r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') " +
        "SELECT p.event_id, r.value AS asof_value FROM p ASOF LEFT JOIN r " +
        "ON p.user_id = r.user_id AND r.ts <= p.ts ORDER BY p.event_id")),
    ("q_stream_tumbling_wm", qStreamTumblingWm, Some(
      "SELECT date_trunc('hour', ts) w, event_type, count(*) cnt FROM events GROUP BY 1,2 ORDER BY 1,2")),
    ("q_stream_sliding", qStreamSliding, Some(
      // each event belongs to the 3 hourly-aligned 3h windows covering it
      "SELECT date_trunc('hour', ts) - i * INTERVAL 1 HOUR w, event_type, count(*) cnt " +
        "FROM (SELECT ts, event_type, unnest([0, 1, 2]) i FROM events) " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_stream_session", qStreamSession, Some(
      "WITH marked AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END new_s FROM events), sess AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) sid FROM marked) SELECT user_id, min(ts) s_start, count(*) n_events FROM sess GROUP BY user_id, sid ORDER BY user_id, s_start")),
    ("q_stream_dedup", qStreamDedup, Some(
      "SELECT event_type, count(*) cnt FROM (SELECT DISTINCT ON (event_id) event_type FROM events ORDER BY event_id) GROUP BY event_type ORDER BY event_type")),
    ("q_stream_interval_join", qStreamIntervalJoin, Some(
      "SELECT c.user_id, count(*) n_pairs, min(epoch_us(p.ts) - epoch_us(c.ts)) min_lag_us " +
        "FROM events c JOIN events p ON p.user_id = c.user_id " +
        "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE " +
        "GROUP BY c.user_id ORDER BY c.user_id")),
    ("q_stream_outer_join", qStreamOuterJoin, Some(
      "SELECT c.event_id cid, c.user_id cu, c.ts ct, CAST(count(p.ts) AS BIGINT) n_purch, " +
        "min(epoch_us(p.ts) - epoch_us(c.ts)) min_lag_us " +
        "FROM events c LEFT JOIN events p ON p.event_type = 'purchase' AND p.user_id = c.user_id " +
        "AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE " +
        "WHERE c.event_type = 'click' GROUP BY 1, 2, 3 ORDER BY cid")),
    ("q_stream_static_join", qStreamStaticJoin, Some(
      "SELECT c_mktsegment, count(*) cnt FROM events JOIN customer ON user_id=c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    ("q_stream_burn_counters", qStreamBurnCounters, Some(
      "SELECT date_trunc('hour', ts) h, " +
        "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) err, " +
        "CAST(count(*) AS BIGINT) tot FROM events GROUP BY 1 ORDER BY h")),
    ("q_stream_first_seen", qStreamFirstSeen, Some(
      "SELECT user_id, min(ts) first_ts FROM events GROUP BY 1 ORDER BY user_id")),
    ("q_stream_dau", qStreamDau, Some(
      "SELECT (epoch_us(ts) // 86400000000) * 86400000000 day_us, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) n_users FROM events GROUP BY 1 ORDER BY 1")),
  )
}
