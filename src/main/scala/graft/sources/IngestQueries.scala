package graft.sources

import graft.Catalog.{Entry, Q}
import graft.Tables
import graft.operators.{Num, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog queries exercising the write path end-to-end: materialize a
  * layout (memoized, ingest-time), then answer from the pruned read. The
  * oracles run against the ORIGINAL parquet — so a pass proves the
  * round-trip (layout write + partition-pruned read) preserves the data,
  * not just that the filter math agrees.
  */
object IngestQueries {
  /** Time-range aggregate over the by-day layout. The `day BETWEEN`
    * predicate is a partition filter: only 5 of 30 partition directories
    * are read (WritePathSpec asserts the pruning; at 100 TB this is the
    * difference between scanning a month and scanning 5 days). */
  val qIngestDayPrune: Q = (s, d) => {
    val path = Ingest.EventsByDay(s, d)
    Ingest.readEventsByDay(s, path)
      .filter(col("day").between(lit("2024-01-05").cast("date"), lit("2024-01-09").cast("date")))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("day", "event_type")
  }

  /** DYNAMIC partition pruning over the by-day layout: the pruning days
    * are "above-average error days" — a RUNTIME aggregate over the raw
    * table, unknowable at plan time, so static pruning
    * (q_ingest_day_prune) and the DerivedPartitionFilters rule both
    * cannot help; Spark's DPP turns the broadcast dim into a partition
    * filter on the fact scan (`dynamicpruningexpression` — asserted in
    * PlanSpec). The hot-day rule is the exact integer comparison
    * errs·n_days > total (the q_ts_alert_transitions device), so the dim
    * is deterministic and non-empty at every scale factor. */
  val qIngestDpp: Q = (s, d) => {
    val path = Ingest.EventsByDay(s, d)
    val fact = Ingest.readEventsByDay(s, path)
    val daily = Tables.events(s, d)
      .filter(col("event_type") === "error")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("hday"))
      .agg(count(lit(1)).as("errs"))
    val tot = daily.agg(sum("errs").as("tot"), count(lit(1)).as("nd"))
    val hot = daily.crossJoin(broadcast(tot))
      .filter(col("errs") * col("nd") > col("tot"))
      .select("hday")
    fact.join(hot, fact("day") === hot("hday"))
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("day", "event_type")
  }

  /** ANN probe against the by-bucket layout: bucket computed driver-side,
    * scan pruned to one partition directory, exact codegen'd cosine
    * inside. Oracle-backed (unlike the unpartitioned ANN variants): the
    * ±1 plane matrix is deterministic, so DuckDB re-derives every
    * vector's bucket from inline plane literals and searches the same
    * bucket — a full cross-engine check of the LSH bucketing AND the
    * layout round-trip. */
  val qAnnBucketPruned: Q = (s, d) => annProbe(s, d, Ingest.EmbeddingsByBucket(s, d))

  /** Top-5 neighbors of vector 0 in its bucket of the by-bucket layout at
    * `path`, sims rounded to 6 dp. */
  private def annProbe(s: SparkSession, d: String, path: String): DataFrame = {
    val probeVec = Tables.embeddings(s, d)
      .filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray.map(_.toDouble)
    Ingest.annTopKPruned(s, path, probeVec, excludeId = 0L, k = 5)
      .withColumn("sim", Num.roundd(col("sim"), 6))
  }

  /** ANN probe against the CDC-MAINTAINED by-bucket layout
    * (Ingest.annCdcMaintained): two vectors deleted, two re-embedded as
    * their negation (provably moving to the complement bucket). The
    * probe prunes to one bucket directory exactly as before, and the
    * oracle reconstructs the mutated corpus from the original embeddings
    * table — a pass proves deletes vanished, stale copies moved, and new
    * placements match a from-scratch rebuild, with no index rebuild in
    * the serving path. */
  val qAnnCdcProbe: Q = (s, d) => annProbe(s, d, Ingest.AnnCdcMaintained(s, d))

  /** ANN probe against the STREAM-maintained layout
    * (Ingest.annStreamMaintained + streaming/StreamVectors): the same
    * net mutations as the CDC fixture, but delivered as a vector FEED —
    * an upsert micro-batch then a tombstone micro-batch, each composed
    * through the batch mutations inside foreachBatch. The oracle is
    * q_ann_cdc_probe's verbatim: a pass proves continuous ingest
    * converges to the exact batch-CDC truth with no rebuild. */
  val qAnnStreamProbe: Q = (s, d) => annProbe(s, d, Ingest.AnnStreamMaintained(s, d))

  /** Batch multiprobe ANN over the by-bucket layout (see
    * Ingest.annBatchPruned): 3 probes × (own + 6 hamming-1 buckets),
    * pruned scan, one plan. Probe vectors are a driver-side collect of 3
    * rows — bounded by design, the same contract as the IVF seed
    * collect. */
  val qAnnBatchMultiprobe: Q = (s, d) => {
    val path = Ingest.EmbeddingsByBucket(s, d)
    val probes = Tables.embeddings(s, d)
      .filter(col("vec_id") < 3).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .sortBy(_._1).toSeq
    Ingest.annBatchPruned(s, path, probes, k = 3)
  }

  /** Join two tables hash-bucketed AND sorted on the join key with the
    * same bucket count: the plan is a SortMergeJoin with NO Exchange and
    * no per-query Sort on either side (WritePathSpec asserts both). At
    * 100 TB this turns the nightly fact-dim join from a full network
    * shuffle of both tables into a local merge per bucket — the write-side
    * cost is paid once at ingest. Oracle runs the same join on the
    * original parquet, so a pass also proves the bucketed round-trip. */
  val qIngestBucketedJoin: Q = (s, d) => {
    val (to, tc) = Ingest.BucketedOrdersCustomer(s, d)
    s.table(to).join(s.table(tc), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("o_totalprice"), 2).as("rev"))
      .orderBy("c_mktsegment")
  }

  /** Needle-in-haystack point lookup through the per-day Bloom index
    * (Ingest.eventsDayBloomIndex): the index collect keeps only the days
    * whose bloom might contain a probed id, the scan prunes to those
    * directories (WritePathSpec asserts ≈|ids| of 30 read), and the exact
    * id filter removes bloom false positives — so the oracle is the plain
    * IN-list scan of the original parquet, proving index + layout +
    * round-trip all at once. */
  val qIngestBloomIndex: Q = (s, d) =>
    Ingest.eventsByIdPruned(s, d, Seq(7L, 404L, 777L))
      .select(col("event_id"), col("day"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  /** Continuous-aggregate serving (Ingest.caggDailyServe): the whole-month
    * daily aggregate answered from the stored hourly rollup (days < 26th)
    * plus an on-the-fly partial over ONLY the open tail directories (≥
    * 26th, partition-pruned — WritePathSpec asserts 5/30 dirs). The oracle
    * aggregates the raw table directly through the same two-level rounding,
    * so a pass proves rollup write + tail merge ≡ direct aggregation. */
  val qIngestCaggServe: Q = (s, d) => Ingest.caggDailyServe(s, d)

  /** Bounds-aware rollup routing (Ingest.caggRoute): the dashboard range
    * [Jan 10, Jan 29) splits at the Jan-26 cutoff — closed days answer
    * from the stored rollup's h-filter, the raw scan lists ONLY the 3
    * tail∩range directories (WritePathSpec asserts the listing and the
    * zero-raw case for a fully-closed range). */
  val qIngestCaggRoute: Q = (s, d) =>
    Ingest.caggRoute(s, d, "2024-01-10", "2024-01-29")

  /** TRANSPARENT rollup routing (plans/RollupRouting, the optimizer-rule
    * half): the query below is the NAIVE count aggregate written against
    * the raw by-day layout with ts bounds — exactly what a dashboard
    * generator emits. The registered rule rewrites it to sum(cnt) over
    * the stored rollup ∪ pruned tail partials; results are bit-exact
    * (counts only — the rule never routes value sums, whose rollup form
    * is 8dp-rounded and belongs to the explicit caggRoute contract).
    * The oracle aggregates the raw table directly, so a pass proves the
    * rewrite changed the PLAN and not the ANSWER; WritePathSpec asserts
    * the plan reads the rollup file + 3 raw directories. */
  val qIngestRouteRule: Q = (s, d) => {
    val rollupPath = Ingest.EventsHourlyRollup(s, d)
    val rawPath = Ingest.EventsByDay(s, d)
    graft.plans.RollupRouting.register(s, rawPath, rollupPath, "2024-01-26")
    Ingest.readEventsByDay(s, rawPath)
      .filter(col("ts") >= lit("2024-01-08").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-29").cast("timestamp_ntz"))
      .groupBy(date_trunc("day", col("ts")).cast("date").as("dday"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("dday", "event_type")
  }

  /** Time+value box query over the z-ordered layout (Ingest.eventsZordered):
    * the zp IN (...) partition filter prunes on BOTH dimensions — this box
    * reads 1 of 16 directories, where the by-day layout could prune only
    * the time axis (WritePathSpec asserts both the listing and the 1-D
    * comparison). Oracle scans the original parquet, so a pass proves the
    * z-curve cell math, the prefix enumeration, and the layout round-trip. */
  val qIngestZorderBox: Q = (s, d) =>
    Ingest.eventsZboxQuery(s, d, "2024-01-10", "2024-01-14", 80.0, 100.0)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")

  /** Aggregate over the layout AFTER a retention drop (days < Jan-08
    * removed as pure partition-directory deletes — no row rewritten).
    * Oracle filters the raw table to the retained range, so a pass proves
    * the drop removed exactly the expired partitions and nothing else. */
  val qIngestRetention: Q = (s, d) => {
    val path = Ingest.EventsWithRetention(s, d)
    s.read.parquet(path)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("day", "event_type")
  }

  /** Same aggregate over the COMPACTED layout (fragmented 8-file/dir
    * ingest output rewritten to 1 file/dir — see Ingest.eventsCompacted).
    * Oracle aggregates the raw table, so a pass proves compaction
    * rewrote every row verbatim. */
  val qIngestCompacted: Q = (s, d) => {
    val path = Ingest.EventsCompacted(s, d)
    s.read.parquet(path)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("day", "event_type")
  }

  /** Serve the incrementally-refreshed continuous aggregate — the whole
    * report comes off the rollup ARTIFACT (a partitioned summary table),
    * no raw-event scan at serve time; the oracle recomputes everything
    * from raw, so a pass proves initial-build + incremental-refresh
    * composed to exactly the full aggregate. */
  val qIngestCaggRefresh: Q = (s, d) => {
    val p = Ingest.caggIncremental(s, d)
    s.read.parquet(p)
      .select(col("day").as("dday"), col("event_type"), col("cnt"),
        Num.roundd(col("sv8"), 2).as("sv"))
      .orderBy("dday", "event_type")
  }

  /** Serve the incrementally-maintained interval-JOIN view: the per-user
    * pair report comes entirely off the pair ARTIFACT (initial build +
    * delta refresh that read only |Δ| + a 30-minute boundary band — see
    * Ingest.ivmJoinRefresh). The oracle recomputes the join from raw
    * events, so a pass proves the delta decomposition composed to
    * exactly the full join — incremental view maintenance for joins,
    * the piece the aggregate-only cagg path cannot express. */
  val qIngestIvmJoin: Q = (s, d) => pairReport(s, Ingest.IvmJoinPairs(s, d))

  /** Per-user pair count and shortest lag over the pair artifact at `p`. */
  private def pairReport(s: SparkSession, p: String): DataFrame =
    s.read.parquet(p)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), min("lag_us").as("min_lag_us"))
      .orderBy("user_id")

  /** Serve the join view AFTER a CDC delete batch (purchases of user 3,
    * clicks of user 5): exactly the referencing pairs are gone, proven
    * against a full-recompute oracle on the mutated predicate. The
    * delete touched only the ≤2 cday dirs per deleted event derived
    * from the deletes' own timestamps (Ingest.ivmJoinDelete). */
  val qIngestIvmDelete: Q = (s, d) => pairReport(s, Ingest.IvmJoinDeleted(s, d))

  /** Schema-evolution read over the two-generation layout: `mergeSchema`
    * unions the v1/v2 footers, v1 rows surface the added column as NULL,
    * and the report coalesces them into a 'none' generation bucket. No
    * file was rewritten to evolve the schema — the contract that makes
    * column addition free at 100 TB (the oracle recomputes both
    * generations' semantics from the source table relationally). */
  val qIngestSchemaMerge: Q = (s, d) => {
    val path = Ingest.eventsSchemaEvolved(s, d)
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(coalesce(col("source_region"), lit("none")).as("region"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("region", "event_type")
  }

  /** Text-format ingestion round-trip: the SAME daily aggregate computed
    * from the JSON-lines feed and the CSV feed, unioned with a format tag.
    * Oracle aggregates the parquet table twice — a pass proves both wire
    * formats round-trip every row and µs timestamp under explicit schemas
    * (the TSDB collector path; inference is never used). */
  val qIngestTextFormats: Q = (s, d) => {
    val (jsonPath, csvPath) = Ingest.EventsTextFormats(s, d)
    def daily(df: org.apache.spark.sql.DataFrame, fmt: String) =
      df.groupBy(to_date(col("ts")).as("dday"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
        .withColumn("fmt", lit(fmt))
    daily(Ingest.readEventsJson(s, jsonPath), "json")
      .unionByName(daily(Ingest.readEventsCsv(s, csvPath), "csv"))
      .select("fmt", "dday", "event_type", "cnt", "sv")
      .orderBy("fmt", "dday", "event_type")
  }

  /** Derived partition filters (graft.plans.DerivedPartitionFilters — the
    * Rule[LogicalPlan] leg of the extension ladder): the query bounds only
    * raw `ts`, never mentioning the layout's `day` partition column; the
    * injected optimizer rule derives the implied day bounds, and the scan
    * prunes to 4/30 directories (WritePathSpec asserts pruning WITH the
    * rule and a full listing WITHOUT it). Oracle filters the raw table —
    * a pass proves the derived bounds are sound (supersets). */
  val qIngestDerivedPrune: Q = (s, d) => {
    val path = Ingest.EventsByDay(s, d)
    org.apache.spark.sql.graft.PlanApi.addOptimization(s, graft.plans.DerivedPartitionFilters)
    Ingest.readEventsByDay(s, path)
      .filter(expr("ts >= TIMESTAMP_NTZ '2024-01-12 06:00:00' AND ts < TIMESTAMP_NTZ '2024-01-15 18:00:00'"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("event_type")
  }

  /** Label-selector query through the per-file tag index
    * (Ingest.eventsTagSelect over the type-clustered by-day layout): the
    * index keeps only the files that can hold event_type='click' AND
    * overlap the props.k range, so the scan reads ≈1/5 of the selected
    * days' files instead of all of them (WritePathSpec asserts the strict
    * subset). Oracle filters the raw table — a pass proves index
    * completeness (no file skipped that held a matching row) and the
    * clustered-layout round-trip. */
  val qIngestTagPrune: Q = (s, d) =>
    Ingest.eventsTagSelect(s, d, "click", "2024-01-10", "2024-01-20", 10, 60)
      .groupBy("day")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("day")

  /** Unified serve across the age tiers (Ingest.eventsTieredServe —
    * raw 9-day tail + hourly-rollup middle tier + dropped history): the
    * full visible range answered from summary rows plus only the retained
    * raw directories. Oracle aggregates the raw table over the visible
    * range through the same two-level rounding — a pass proves the tier
    * composition (retention drop + rollup + merge) loses nothing inside
    * the window and resurrects nothing outside it. */
  val qIngestTiered: Q = (s, d) => Ingest.eventsTieredServe(s, d)

  /** Row-level GDPR delete round-trip (Ingest.deleteRows): documents AND
    * embeddings corpora lose gdprIds via bloom-indexed copy-on-write file
    * rewrite, then each corpus is checksummed (count + id-sum). The oracle
    * anti-filters the RAW tables — a pass proves the delete removed
    * exactly the requested rows and damaged nothing else. File-level
    * behavior (untouched files keep their bytes, index stays consistent,
    * idempotence) is asserted in WritePathSpec. */
  val qDocsDelete: Q = (s, d) => {
    val (pd, pe) = Ingest.GdprDeleted(s, d)
    def part(path: String, tag: String, idCol: String) =
      s.read.parquet(path)
        .agg(count(lit(1)).as("n"), sum(idCol).as("id_sum"))
        .select(lit(tag).as("part"), col("n"), col("id_sum"))
    part(pd, "docs", "doc_id")
      .unionByName(part(pe, "emb", "vec_id"))
      .orderBy("part")
  }

  /** CDC upsert round-trip (Ingest.upsertRows): the corpus after a
    * replace-2 + insert-2 merge batch, checksummed per (lang, source).
    * The oracle rebuilds the post-merge corpus literally (anti-filter +
    * UNION ALL of the same batch rows) — a pass proves MERGE semantics:
    * stale versions gone, replacements and inserts present, everything
    * else untouched. */
  /** Merge-on-read delete round-trip (Ingest.morDeleted): the corpus
    * served THROUGH the tombstone anti-join, checksummed per lang. The
    * oracle anti-filters the raw table — a pass proves the read path
    * hides exactly the forgotten rows while WritePathSpec proves the
    * data files still physically contain them (no rewrite happened),
    * which together are the MoR contract. */
  val qDocsDeleteMor: Q = (s, d) => {
    val (pd, pt) = Ingest.morDeleted(s, d)
    Ingest.readMorDocs(s, pd, pt)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"), sum("n_chars").as("chars"))
      .orderBy("lang")
  }

  val qDocsUpsert: Q = (s, d) => {
    val p = Ingest.CdcUpserted(s, d)
    s.read.parquet(p)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"), sum("n_chars").as("chars"))
      .orderBy("lang", "source")
  }

  /** TSDB GDPR round-trip (Ingest.eventsGdprDeleted): the by-day layout
    * after forgetting gdprUserIds, aggregated per event_type. The oracle
    * anti-filters the raw events table — a pass proves the partition-
    * granular rewrite removed exactly the user's rows across all day
    * directories and damaged nothing else. */
  val qEventsDeleteUser: Q = (s, d) => {
    val p = Ingest.EventsGdprDeleted(s, d)
    s.read.parquet(p)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"),
        countDistinct("user_id").as("users"))
      .orderBy("event_type")
  }

  /** Late-correction round-trip (Ingest.eventsCorrected): the by-day
    * layout after three readings were re-sent at value 999.5, aggregated
    * per event_type. The oracle applies the same corrections as a CASE
    * over the raw table — a pass proves the day-granular upsert replaced
    * exactly the corrected readings and nothing else. */
  val qEventsCorrect: Q = (s, d) => {
    val p = Ingest.EventsCorrected(s, d)
    s.read.parquet(p)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 2).as("sv"))
      .orderBy("event_type")
  }

  /** Time travel over the snapshot-versioned corpus (Versioned): v1 =
    * create, v2 = upsert (replace + insert), v3 = delete — each version
    * read back AS OF its manifest and checksummed. The oracle rebuilds
    * the three states relationally from the raw table; a pass proves
    * every historical snapshot stays byte-consistent after later
    * mutations (MVCC isolation, not just latest-state correctness). */
  val qIngestTimeTravel: Q = (s, d) => {
    val dir = Versioned.timeTravelFixture(s, d)
    (1L to 3L).map { v =>
      Versioned.read(s, dir, v)
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"), sum("n_chars").as("chars"))
        .select(lit(v).as("ver"), col("n"), col("id_sum"), col("chars"))
    }.reduce(_ unionByName _).orderBy("ver")
  }

  /** Snapshot diff v1 → v3 over the versioned corpus: every row
    * classified added / removed / changed / unchanged with count, id
    * checksum and the net character delta — the audit report that
    * answers "what exactly did the last two commits do?" without replaying
    * them. One full-outer join of two MANIFEST-RESOLVED snapshot reads
    * (each is just a parquet scan of its version's file set — snapshot
    * isolation makes the diff consistent by construction); the oracle
    * rebuilds both versions from raw and diffs them independently. At
    * 100 TB the join prunes to the files that DIFFER between manifests
    * (the manifest set-difference is the candidate list). */
  val qIngestSnapshotDiff: Q = (s, d) => {
    val dir = Versioned.timeTravelFixture(s, d)
    val a = Versioned.read(s, dir, 1L).select(col("doc_id"), col("n_chars").as("ca"))
    val b = Versioned.read(s, dir, 3L).select(col("doc_id"), col("n_chars").as("cb"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("cls",
        when(col("ca").isNull, "added")
          .when(col("cb").isNull, "removed")
          .when(col("ca") =!= col("cb"), "changed")
          .otherwise("unchanged"))
      .groupBy("cls")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"),
        sum(coalesce(col("cb"), lit(0L)) - coalesce(col("ca"), lit(0L))).as("chars_delta"))
      .orderBy("cls")
  }

  /** Serve one shard of the sharded docs export (the layout whose manifest
    * is Corpus.qDocsShardAssign): `shard = 3` is a partition filter, so
    * the scan reads 1/16 of the corpus directories (WritePathSpec asserts
    * the listing). The oracle recomputes the same slice from the RAW
    * documents via the hash rule — a pass proves routing, layout write,
    * and pruned read agree end to end. */
  val qIngestShardServe: Q = (s, d) => {
    val path = Ingest.DocsByShard(s, d)
    s.read.parquet(path)
      .filter(col("shard") === 3)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(coalesce(col("text"), lit("")), " ")).cast("long")).as("tokens"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  /** q_ann_cdc_probe's oracle, which q_ann_stream_probe shares: the
    * mutated corpus rebuilt from the original embeddings table. */
  private val annCdcOracle =
    "WITH e AS (SELECT vec_id, CASE WHEN vec_id IN (5, 17) " +
      "THEN list_transform(embedding, x -> -x) ELSE embedding END AS embedding " +
      "FROM embeddings WHERE vec_id NOT IN (3, 11)), " +
      s"b AS (SELECT vec_id, embedding, ${Similarity.srpBucketSql("embedding", Ingest.AnnPlanes)} AS bucket FROM e) " +
      "SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), " +
      "(SELECT CAST(embedding AS DOUBLE[]) FROM e WHERE vec_id = 0)), 6) sim " +
      "FROM b WHERE bucket = (SELECT bucket FROM b WHERE vec_id = 0) AND vec_id != 0 " +
      "ORDER BY sim DESC, vec_id ASC LIMIT 5"

  val all: Seq[Entry] = Seq(
    Entry("q_ingest_snapshot_diff", qIngestSnapshotDiff, Some(
      "WITH v1 AS (SELECT doc_id, n_chars FROM documents), " +
        "ups AS (SELECT doc_id, n_chars + 1000 n_chars FROM documents WHERE doc_id % 10 = 0), " +
        "ins AS (SELECT doc_id + 1000000 doc_id, n_chars FROM documents WHERE doc_id < 5), " +
        "v2 AS (SELECT v1.doc_id, COALESCE(ups.n_chars, v1.n_chars) n_chars FROM v1 LEFT JOIN ups USING (doc_id) " +
        "UNION ALL SELECT * FROM ins), " +
        "v3 AS (SELECT * FROM v2 WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)), " +
        "j AS (SELECT COALESCE(v1.doc_id, v3.doc_id) doc_id, v1.n_chars ca, v3.n_chars cb " +
        "FROM v1 FULL OUTER JOIN v3 ON v1.doc_id = v3.doc_id), " +
        "k AS (SELECT doc_id, ca, cb, CASE WHEN ca IS NULL THEN 'added' WHEN cb IS NULL THEN 'removed' " +
        "WHEN ca <> cb THEN 'changed' ELSE 'unchanged' END cls FROM j) " +
        "SELECT cls, CAST(count(*) AS BIGINT) n, CAST(sum(doc_id) AS BIGINT) id_sum, " +
        "CAST(sum(COALESCE(cb, 0) - COALESCE(ca, 0)) AS BIGINT) chars_delta " +
        "FROM k GROUP BY 1 ORDER BY 1")),
    Entry("q_ingest_time_travel", qIngestTimeTravel, Some(
      "WITH v1 AS (SELECT doc_id, n_chars FROM documents), " +
        "ups AS (SELECT doc_id, n_chars + 1000 n_chars FROM documents WHERE doc_id % 10 = 0), " +
        "ins AS (SELECT doc_id + 1000000 doc_id, n_chars FROM documents WHERE doc_id < 5), " +
        "v2 AS (SELECT v1.doc_id, COALESCE(ups.n_chars, v1.n_chars) n_chars FROM v1 LEFT JOIN ups USING (doc_id) " +
        "UNION ALL SELECT * FROM ins), " +
        "v3 AS (SELECT * FROM v2 WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)) " +
        "SELECT CAST(1 AS BIGINT) ver, CAST(count(*) AS BIGINT) n, CAST(sum(doc_id) AS BIGINT) id_sum, CAST(sum(n_chars) AS BIGINT) chars FROM v1 " +
        // every branch casts its sums: DuckDB unifies UNION ALL types to
        // the widest branch, so one uncast HUGEINT sum would undo the
        // casts in the others
        "UNION ALL SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT) FROM v2 " +
        "UNION ALL SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT), CAST(sum(n_chars) AS BIGINT) FROM v3 ORDER BY ver")),
    Entry("q_events_correct", qEventsCorrect, needs = Seq(Ingest.EventsCorrected), oracle = Some(
      "SELECT event_type, count(*) cnt, " +
        "round(sum(CASE WHEN event_id IN (5, 17, 23) THEN 999.5 ELSE value END), 2) sv " +
        "FROM events GROUP BY 1 ORDER BY 1")),
    Entry("q_events_delete_user", qEventsDeleteUser, needs = Seq(Ingest.EventsGdprDeleted), oracle = Some(
      "SELECT event_type, count(*) cnt, round(sum(value), 2) sv, count(DISTINCT user_id) users " +
        "FROM events WHERE user_id NOT IN (7) GROUP BY 1 ORDER BY 1")),
    Entry("q_docs_upsert", qDocsUpsert, needs = Seq(Ingest.CdcUpserted), oracle = Some(
      "WITH up AS (SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id NOT IN (3, 8) " +
        "UNION ALL SELECT 3, 'updated text three', 'en', 'cdc', 18 " +
        "UNION ALL SELECT 8, 'updated text eight', 'en', 'cdc', 18 " +
        "UNION ALL SELECT 100000, 'new doc one', 'en', 'cdc', 11 " +
        "UNION ALL SELECT 100001, 'new doc two', 'en', 'cdc', 11) " +
        "SELECT lang, source, count(*) n, CAST(sum(doc_id) AS BIGINT) id_sum, CAST(sum(n_chars) AS BIGINT) chars " +
        "FROM up GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_docs_delete_mor", qDocsDeleteMor, Some(
      "SELECT lang, CAST(count(*) AS BIGINT) n, CAST(sum(doc_id) AS BIGINT) id_sum, " +
        "CAST(sum(n_chars) AS BIGINT) chars FROM documents " +
        "WHERE doc_id NOT IN (7,13,101,256) GROUP BY lang ORDER BY lang")),
    Entry("q_docs_delete", qDocsDelete, needs = Seq(Ingest.GdprDeleted), oracle = Some(
      "SELECT 'docs' part, count(*) n, CAST(sum(doc_id) AS BIGINT) id_sum FROM documents WHERE doc_id NOT IN (7,13,101,256) " +
        "UNION ALL SELECT 'emb' part, count(*) n, CAST(sum(vec_id) AS BIGINT) id_sum FROM embeddings WHERE vec_id NOT IN (7,13,101,256) " +
        "ORDER BY part")),
    Entry("q_ingest_shard_serve", qIngestShardServe, needs = Seq(Ingest.DocsByShard), oracle = Some(
      "SELECT lang, CAST(count(*) AS BIGINT) n_docs, " +
        "CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) tokens, " +
        "CAST(sum(doc_id) AS BIGINT) id_sum FROM documents " +
        "WHERE CAST('0x' || substr(md5('shard' || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 = 3 " +
        "GROUP BY lang ORDER BY lang")),
    Entry("q_ingest_derived_prune", qIngestDerivedPrune, needs = Seq(Ingest.EventsByDay), oracle = Some(
      "SELECT event_type, count(*) cnt, round(sum(value), 2) sv FROM events " +
        "WHERE ts >= TIMESTAMP '2024-01-12 06:00:00' AND ts < TIMESTAMP '2024-01-15 18:00:00' " +
        "GROUP BY 1 ORDER BY 1")),
    Entry("q_ingest_text_formats", qIngestTextFormats, needs = Seq(Ingest.EventsTextFormats), oracle = Some(
      "WITH d AS (SELECT CAST(ts AS DATE) dday, event_type, CAST(count(*) AS BIGINT) cnt, round(sum(value), 2) sv " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT fmt, dday, event_type, cnt, sv FROM (SELECT unnest(['csv', 'json']) fmt), d " +
        "ORDER BY fmt, dday, event_type")),
    Entry("q_ingest_retention", qIngestRetention, needs = Seq(Ingest.EventsWithRetention), oracle = Some(
      "SELECT CAST(ts AS DATE) AS \"day\", event_type, count(*) cnt, round(sum(value), 2) sv " +
        "FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-08' " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_compacted", qIngestCompacted, needs = Seq(Ingest.EventsCompacted), oracle = Some(
      "SELECT CAST(ts AS DATE) AS \"day\", event_type, count(*) cnt, round(sum(value), 2) sv " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_ivm_join", qIngestIvmJoin, needs = Seq(Ingest.IvmJoinPairs), oracle = Some(
      "SELECT c.user_id, CAST(count(*) AS BIGINT) n_pairs, " +
        "min(epoch_us(p.ts) - epoch_us(c.ts)) min_lag_us " +
        "FROM events c JOIN events p ON p.user_id = c.user_id " +
        "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE " +
        "GROUP BY c.user_id ORDER BY c.user_id")),
    Entry("q_ingest_ivm_delete", qIngestIvmDelete, needs = Seq(Ingest.IvmJoinDeleted), oracle = Some(
      "SELECT c.user_id, CAST(count(*) AS BIGINT) n_pairs, " +
        "min(epoch_us(p.ts) - epoch_us(c.ts)) min_lag_us " +
        "FROM events c JOIN events p ON p.user_id = c.user_id " +
        "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
        "AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE " +
        "WHERE c.user_id NOT IN (3, 5) " +
        "GROUP BY c.user_id ORDER BY c.user_id")),
    Entry("q_ingest_cagg_refresh", qIngestCaggRefresh, needs = Seq(Ingest.EventsByDay), oracle = Some(
      "SELECT CAST(ts AS DATE) dday, event_type, CAST(count(*) AS BIGINT) cnt, " +
        "round(round(sum(value), 8), 2) sv FROM events GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_schema_merge", qIngestSchemaMerge, Some(
      "WITH e AS (SELECT event_type, value, " +
        "CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 'r' || CAST(user_id % 4 AS VARCHAR) " +
        "ELSE 'none' END region FROM events) " +
        "SELECT region, event_type, CAST(count(*) AS BIGINT) cnt, round(sum(value), 2) sv " +
        "FROM e GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_zorder_box", qIngestZorderBox, needs = Seq(Ingest.EventsZordered), oracle = Some(
      "SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-14' " +
        "AND value >= 80 AND value < 100 ORDER BY event_id")),
    Entry("q_ingest_cagg_serve", qIngestCaggServe, needs = Seq(Ingest.EventsHourlyRollup, Ingest.EventsByDay), oracle = Some(
      "WITH hv AS (SELECT date_trunc('hour', ts) h, event_type, CAST(count(*) AS BIGINT) cnt, round(sum(value), 8) sv8 " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT CAST(date_trunc('day', h) AS DATE) dday, event_type, CAST(sum(cnt) AS BIGINT) cnt, " +
        "round(round(sum(sv8), 8), 2) sv FROM hv GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_cagg_route", qIngestCaggRoute, needs = Seq(Ingest.EventsHourlyRollup, Ingest.EventsByDay), oracle = Some(
      "WITH hv AS (SELECT date_trunc('hour', ts) h, event_type, CAST(count(*) AS BIGINT) cnt, round(sum(value), 8) sv8 " +
        "FROM events WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-29' GROUP BY 1, 2) " +
        "SELECT CAST(date_trunc('day', h) AS DATE) dday, event_type, CAST(sum(cnt) AS BIGINT) cnt, " +
        "round(round(sum(sv8), 8), 2) sv FROM hv GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_route_rule", qIngestRouteRule, needs = Seq(Ingest.EventsHourlyRollup, Ingest.EventsByDay), oracle = Some(
      "SELECT CAST(date_trunc('day', ts) AS DATE) dday, event_type, CAST(count(*) AS BIGINT) cnt " +
        "FROM events WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-29' " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_bloom_index", qIngestBloomIndex, needs = Seq(Ingest.EventsByDay), oracle = Some(
      "SELECT event_id, CAST(ts AS DATE) AS \"day\", user_id, event_type, value " +
        "FROM events WHERE event_id IN (7, 404, 777) ORDER BY event_id")),
    Entry("q_ingest_bucketed_join", qIngestBucketedJoin, needs = Seq(Ingest.BucketedOrdersCustomer), oracle = Some(
      "SELECT c_mktsegment, count(*) cnt, round(sum(o_totalprice), 2) rev " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),
    Entry("q_ingest_tag_prune", qIngestTagPrune, needs = Seq(Ingest.EventsByDayTyped), oracle = Some(
      "SELECT CAST(ts AS DATE) AS \"day\", count(*) cnt, round(sum(value), 2) sv " +
        "FROM events WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20' " +
        "AND event_type = 'click' " +
        "AND CAST(json_extract_string(props, '$.k') AS INT) BETWEEN 10 AND 60 " +
        "GROUP BY 1 ORDER BY 1")),
    Entry("q_ingest_tiered", qIngestTiered, needs = Seq(Ingest.EventsTiered), oracle = Some(
      "WITH hv AS (SELECT date_trunc('hour', ts) h, event_type, CAST(count(*) AS BIGINT) cnt, round(sum(value), 8) sv8 " +
        "FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-08' GROUP BY 1, 2) " +
        "SELECT CAST(date_trunc('day', h) AS DATE) dday, event_type, CAST(sum(cnt) AS BIGINT) cnt, " +
        "round(round(sum(sv8), 8), 2) sv FROM hv GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_dpp", qIngestDpp, needs = Seq(Ingest.EventsByDay), oracle = Some(
      "WITH de AS (SELECT CAST(date_trunc('day', ts) AS DATE) hday, CAST(count(*) AS BIGINT) errs " +
        "FROM events WHERE event_type = 'error' GROUP BY 1), " +
        "t AS (SELECT CAST(sum(errs) AS BIGINT) tot, CAST(count(*) AS BIGINT) nd FROM de), " +
        "hot AS (SELECT hday FROM de CROSS JOIN t WHERE errs * nd > tot) " +
        "SELECT CAST(date_trunc('day', e.ts) AS DATE) AS \"day\", e.event_type, CAST(count(*) AS BIGINT) cnt " +
        "FROM events e JOIN hot ON hot.hday = CAST(date_trunc('day', e.ts) AS DATE) " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ingest_day_prune", qIngestDayPrune, needs = Seq(Ingest.EventsByDay), oracle = Some(
      // `day` is a DuckDB keyword — a bare alias is a parser error (r02); AS-quote it
      "SELECT CAST(ts AS DATE) AS \"day\", event_type, count(*) cnt, round(sum(value), 2) sv " +
        "FROM events WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-09' " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_ann_batch_multiprobe", qAnnBatchMultiprobe, needs = Seq(Ingest.EmbeddingsByBucket), oracle = Some(
      s"WITH b AS (SELECT vec_id, embedding, ${Similarity.srpBucketSql("embedding", Ingest.AnnPlanes)} AS bucket FROM embeddings), " +
        "p AS (SELECT vec_id probe_id, embedding pv, bucket pb FROM b WHERE vec_id < 3), " +
        // masks: 0 = own bucket, powers of two = one flipped plane each
        "pp AS (SELECT probe_id, pv, xor(pb, m) AS bucket FROM p, (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) m)), " +
        "j AS (SELECT pp.probe_id, b.vec_id, round(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), CAST(pp.pv AS DOUBLE[])), 6) sim " +
        "FROM b JOIN pp ON b.bucket = pp.bucket AND b.vec_id != pp.probe_id), " +
        "r AS (SELECT probe_id, vec_id, sim, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) rnk FROM j) " +
        "SELECT probe_id, CAST(rnk AS BIGINT) rnk, vec_id, sim FROM r WHERE rnk <= 3 ORDER BY probe_id, rnk")),
    Entry("q_ann_bucket_pruned", qAnnBucketPruned, needs = Seq(Ingest.EmbeddingsByBucket), oracle = Some(
      s"WITH b AS (SELECT vec_id, embedding, ${Similarity.srpBucketSql("embedding", Ingest.AnnPlanes)} AS bucket FROM embeddings) " +
        "SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), " +
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) sim " +
        "FROM b WHERE bucket = (SELECT bucket FROM b WHERE vec_id = 0) AND vec_id != 0 " +
        "ORDER BY sim DESC, vec_id ASC LIMIT 5")),
    Entry("q_ann_cdc_probe", qAnnCdcProbe, needs = Seq(Ingest.AnnCdcMaintained), oracle = Some(annCdcOracle)),
    Entry("q_ann_stream_probe", qAnnStreamProbe, needs = Seq(Ingest.AnnStreamMaintained), oracle = Some(annCdcOracle)),
  )
}
