package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graft.PlanApi
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalog-level integration tests on sf0.001 (SURVEY.md §5 items 1 & 5).
  *
  * Golden values were produced by DuckDB 1.0.0 on the same parquet files —
  * drift in any of them is a determinism-contract regression that would
  * fail the driver's hash-compare gate before the round even runs.
  */
class CatalogSpec extends SparkSuite {

  test("every catalog query runs and none throws (Bench hides failures as -1)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      assert(n >= 0, s"$name failed")
    }
  }

  test("entry() returns rows (driver smoke gate)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys, with matching names") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"orphan oracles: ${o diff q}")
  }

  test("no duplicate catalog names: the queries Map must not shadow a registration") {
    // queries is a Map built from the one entry list; a repeated name keeps
    // only the LAST registration and the first silently vanishes from the
    // gate (this bit round 11: q_ts_seasonal_decomp registered twice).
    val names = SparkEntry.entries.map(_.name)
    assert(SparkEntry.queries.size == names.size,
      s"catalog Map has ${SparkEntry.queries.size} entries but the entry list has ${names.size} — " +
        s"duplicated: ${names.diff(names.distinct).mkString(", ")}")
  }

  test("queries hold exactly the names of the recorded full catalog; only the approximate ones lack an oracle") {
    val src = scala.io.Source.fromFile("perfbench/refs/catalog-full.tsv")
    val recorded = try src.getLines().map(_.split('\t')(0)).toSet finally src.close()
    assert(recorded.size == 402, s"${recorded.size} names in catalog-full.tsv")
    val names = SparkEntry.queries.keySet
    assert(names == recorded, s"missing: ${recorded diff names}; unrecorded: ${names diff recorded}")
    val approximate = Set("q_sim_ann_lsh", "q_sim_ann_ivf", "q_sim_ann_pq", "q_sketch_distinct",
      "q_sketch_quantile", "q_sketch_hll_merge", "q_sketch_tdigest_merge", "q_sketch_freq_hh")
    assert((names diff SparkEntry.oracleSql.keySet) == approximate)
  }

  test("golden: q_agg_hash matches DuckDB on sf0.001") {
    val rows = SparkEntry.queries("q_agg_hash")(spark, sf0001)
      .select("l_returnflag", "l_linestatus", "sum_qty", "cnt").collect()
    val expect = Seq(
      ("A", "F", 24153.0, 951L), ("A", "O", 23871.0, 960L),
      ("N", "F", 27034.0, 1043L), ("N", "O", 24968.0, 981L),
      ("R", "F", 23567.0, 946L), ("R", "O", 24892.0, 973L))
    assert(rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))) == expect)
  }

  test("golden: q_sort_topk head matches DuckDB on sf0.001") {
    val top = SparkEntry.queries("q_sort_topk")(spark, sf0001).limit(3).collect()
    assert(top.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((988L, 499705.05), (605L, 499695.63), (485L, 499116.01)))
  }

  test("golden: session count matches DuckDB gaps-and-islands on sf0.001") {
    assert(SparkEntry.queries("q_ts_session")(spark, sf0001).count() == 946L)
  }

  test("golden: q_sim_topk top-3 matches DuckDB on sf0.001") {
    val top = SparkEntry.queries("q_sim_topk")(spark, sf0001).limit(3).collect()
    assert(top.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((17L, 0.334456), (225L, 0.315127), (12L, 0.311027)))
  }

  test("golden: q_ts_twa head matches DuckDB on sf0.001") {
    val rows = SparkEntry.queries("q_ts_twa")(spark, sf0001).limit(3).collect()
    assert(rows.map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((0L, "2024-01-01", 1L, 29.61), (0L, "2024-01-03", 3L, 99.545865),
        (0L, "2024-01-04", 1L, 0.88)))
  }

  test("golden: q_ts_asof_nearest (native custom exec) matches DuckDB on sf0.001") {
    val df = SparkEntry.queries("q_ts_asof_nearest")(spark, sf0001)
    assert(df.count() == 397L)
    val head = df.limit(3).collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.getDouble(2))).toSeq
    assert(head == Seq(
      (0L, "2024-01-01 00:00:00.0", 29.61),
      (0L, "2024-01-02 00:00:00.0", 143.51),
      (0L, "2024-01-03 00:00:00.0", 113.39)))
  }

  test("table loaders see expected row counts on sf0.001") {
    assert(Tables.lineitem(spark, sf0001).count() == 6000)
    assert(Tables.orders(spark, sf0001).count() == 1500)
    assert(Tables.events(spark, sf0001).count() == 1000)
    assert(Tables.documents(spark, sf0001).count() == 500)
    assert(Tables.embeddings(spark, sf0001).count() == 500)
  }

  test("events.ts nanos recipe: µs-truncated NTZ, no double-division drift") {
    val r: Row = Tables.events(spark, sf0001)
      .selectExpr("min(ts) mn", "max(ts) mx").head()
    // DuckDB on the same file: min 2024-01-01 00:09:58.778549, max 2024-01-30 23:26:16.220708
    assert(r.get(0).toString == "2024-01-01T00:09:58.778549")
    assert(r.get(1).toString == "2024-01-30T23:26:16.220708")
  }

  test("every cached fixture is read by some entry that lists it in needs (sf0.001)") {
    // read = its InMemoryRelation is in the entry's final plan or in the
    // plan of an action the builder runs; a fixture no entry reads is a
    // pin that costs Bench setup and memory for nothing
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def caches(qe: QueryExecution): Seq[AnyRef] =
      qe.withCachedData.collectWithSubqueries { case r: InMemoryRelation => r.cacheBuilder }
    val fixtures = SparkEntry.entries.flatMap(_.needs).distinct
    val pinned = fixtures.map(f => f -> f.pin(spark, sf0001)).filter(_._2.nonEmpty)
    assert(pinned.nonEmpty, "no fixture caches a frame")
    spark.listenerManager.register(listener)
    try {
      val unread = pinned.filterNot { case (f, frames) =>
        val ours = frames.flatMap(d => caches(d.queryExecution))
        SparkEntry.entries.filter(_.needs.contains(f)).exists { e =>
          PlanApi.drainListeners(spark.sparkContext)
          seen.clear()
          val df = e.build(spark, sf0001)
          PlanApi.drainListeners(spark.sparkContext)
          (df.queryExecution +: seen.asScala.toSeq).exists(caches(_).exists(b => ours.exists(_ eq b)))
        }
      }
      assert(unread.isEmpty, s"cached but read by no entry that needs it: ${unread.map(_._1.name).mkString(", ")}")
    } finally {
      spark.listenerManager.unregister(listener)
      pinned.flatMap(_._2).foreach(_.unpersist(blocking = true))
    }
  }
}
