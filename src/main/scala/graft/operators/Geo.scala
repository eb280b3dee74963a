package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geospatial tier — the one whole domain the catalog lacked: distance
  * queries, grid indexing, spatial joins, density clustering, and
  * trajectory analytics. Public formulations: the haversine great-circle
  * formula (Sinnott 1984), grid-file spatial indexing (Nievergelt et al.
  * 1984), and grid-based DBSCAN-style density clustering (Ester et al.
  * 1996, cell-quantized).
  *
  * The fixture tables carry no coordinates, so every operator derives
  * them DETERMINISTICALLY from integer keys with arithmetic both engines
  * compute bit-identically: `((key * P) % M) / 10.0 - C` uses only long
  * multiply/modulo and IEEE-754 correctly-rounded double divide/subtract,
  * so Spark and DuckDB hold the exact same coordinate bits — like the
  * synthetic-vector discipline the embeddings queries use.
  *
  * Determinism contract (SURVEY §2.0) per output class:
  *  - **Planar math is exact.** +, -, *, /, sqrt, floor are IEEE
  *    correctly rounded: identical input bits ⇒ identical output bits on
  *    both engines. Squared distances, grid cells, and segment lengths
  *    are therefore hash-exact with NO rounding tolerance needed.
  *  - **Sums of doubles ride the exact-decimal-unit device** (the
  *    derivFn / Survival discipline): each per-row length is scaled by
  *    10^k and floored to a BIGINT — same double in, same long out —
  *    then summed as exact integers, so addition order (Spark partial
  *    aggregation vs DuckDB sequential) cannot perturb the total.
  *  - **Trig (haversine) appears only where ulp noise is harmless:**
  *    counts against generic thresholds, min/max picks (both engines
  *    select the same ROW; the value is rounded), and µ-unit averages
  *    floored at coarse (hectometer) resolution. Java Math and libm
  *    agree to a few ulps; the nearest output boundary is ≥ 10^5 ulps
  *    away at these magnitudes.
  *
  * Scale notes (100 TB): every operator is grid-bucketed or broadcast —
  * nothing is corpus². The bbox join explodes each rectangle to its ≤16
  * covering cells and equi-joins points on cell id (the grid-file
  * device: shuffle is |points| + |boxes·cells|, never |points|·|boxes|);
  * hub assignment broadcasts the 25-row hub table; density clustering
  * aggregates points to cells FIRST (bounded by the grid, not the
  * corpus) and runs connected components on the cell graph; trajectory
  * length is one shuffle on user_id + a per-key sort. At cluster scale
  * the cell id doubles as a partition column so radius/bbox probes prune
  * at the source (the ANN by-bucket layout discipline).
  */
object Geo {
  // ---- deterministic coordinate derivation --------------------------------

  /** Customer points: lat ∈ [-85, 85), lon ∈ [-180, 180), 0.1° lattice. */
  private def custPoints(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
      (((col("c_custkey") * lit(7919L)) % 1700L).cast("double") / 10.0 - 85.0).as("lat"),
      (((col("c_custkey") * lit(104729L)) % 3600L).cast("double") / 10.0 - 180.0).as("lon"))

  /** Nation hubs: 25 rows, lat ∈ [-75, 75), lon ∈ [-170, 170). */
  private def hubs(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(
      col("n_nationkey").as("hkey"), col("n_name").as("hub"),
      (((col("n_nationkey") * lit(7321L)) % 1500L).cast("double") / 10.0 - 75.0).as("hlat"),
      (((col("n_nationkey") * lit(9973L)) % 3400L).cast("double") / 10.0 - 170.0).as("hlon"))

  /** Supplier boxes: integer-degree half-extents 1–7 (lat) × 2–12 (lon).
    * Shared with the streaming geofence face (graft-visible). */
  private[graft] def boxes(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(
      col("s_suppkey").as("bid"),
      (((col("s_suppkey") * lit(4817L)) % 1500L).cast("double") / 10.0 - 75.0).as("blat"),
      (((col("s_suppkey") * lit(12391L)) % 3300L).cast("double") / 10.0 - 165.0).as("blon"),
      ((col("s_suppkey") % 7L) + 1L).cast("double").as("hh"),
      ((col("s_suppkey") % 11L) + 2L).cast("double").as("hw"))

  private val PtsCte =
    "pts AS (SELECT c_custkey id, c_mktsegment seg, " +
      "CAST((c_custkey * 7919) % 1700 AS DOUBLE) / 10.0 - 85.0 lat, " +
      "CAST((c_custkey * 104729) % 3600 AS DOUBLE) / 10.0 - 180.0 lon FROM customer)"
  private val HubsCte =
    "hubs AS (SELECT n_nationkey hkey, n_name hub, " +
      "CAST((n_nationkey * 7321) % 1500 AS DOUBLE) / 10.0 - 75.0 hlat, " +
      "CAST((n_nationkey * 9973) % 3400 AS DOUBLE) / 10.0 - 170.0 hlon FROM nation)"
  private val BoxesCte =
    "boxes AS (SELECT s_suppkey bid, " +
      "CAST((s_suppkey * 4817) % 1500 AS DOUBLE) / 10.0 - 75.0 blat, " +
      "CAST((s_suppkey * 12391) % 3300 AS DOUBLE) / 10.0 - 165.0 blon, " +
      "CAST(s_suppkey % 7 + 1 AS DOUBLE) hh, CAST(s_suppkey % 11 + 2 AS DOUBLE) hw FROM supplier)"

  // ---- shared formulas -----------------------------------------------------

  /** Haversine great-circle km. `least(1.0, …)` clamps the asin argument
    * against rounding drift past 1 (antipodal pairs), both engines. */
  private def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val sdLat = sin((radians(lat2) - radians(lat1)) / 2.0)
    val sdLon = sin((radians(lon2) - radians(lon1)) / 2.0)
    val a = sdLat * sdLat + cos(radians(lat1)) * cos(radians(lat2)) * sdLon * sdLon
    lit(2.0 * 6371.0) * asin(sqrt(least(lit(1.0), a)))
  }

  private val HavSql = // same shape, same clamp; %s slots = lat1 lon1 lat2 lon2
    "2.0 * 6371.0 * asin(sqrt(least(1.0, " +
      "sin((radians(%3$s) - radians(%1$s)) / 2.0) * sin((radians(%3$s) - radians(%1$s)) / 2.0) + " +
      "cos(radians(%1$s)) * cos(radians(%3$s)) * " +
      "sin((radians(%4$s) - radians(%2$s)) / 2.0) * sin((radians(%4$s) - radians(%2$s)) / 2.0))))"

  private def hav(l1: String, g1: String, l2: String, g2: String): String =
    HavSql.format(l1, g1, l2, g2)

  /** Exact-decimal-unit scaling: floor(x·10^k + 0.5) as BIGINT — the
    * associativity-proof summand (same double in ⇒ same long out; floor,
    * unlike CAST, truncates identically on both engines). */
  private def toUnits(x: Column, k: Int): Column =
    floor(x * math.pow(10, k).toLong.toDouble + 0.5).cast("long")

  private def unitsSql(x: String, k: Int): String =
    s"CAST(floor($x * 1e$k + 0.5) AS BIGINT)"

  // ---- operators -----------------------------------------------------------

  /** Haversine distance from every customer to its nation's hub, rolled
    * up per nation: count, min/max km, and a hectometer-exact average.
    * One broadcast join (25 hubs) + one hash aggregate — linear. */
  def qGeoHubDistance(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        (((col("c_custkey") * lit(7919L)) % 1700L).cast("double") / 10.0 - 85.0).as("lat"),
        (((col("c_custkey") * lit(104729L)) % 3600L).cast("double") / 10.0 - 180.0).as("lon"))
    val km = cust.join(broadcast(hubs(s, d)), col("c_nationkey") === col("hkey"))
      .withColumn("km", haversineKm(col("lat"), col("lon"), col("hlat"), col("hlon")))
    km.groupBy("hub")
      .agg(count(lit(1)).as("n"),
        Num.roundd(min("km"), 3).as("min_km"),
        Num.roundd(max("km"), 3).as("max_km"),
        sum(toUnits(col("km"), 1)).as("hm"))
      .select(col("hub"), col("n"),  col("min_km"), col("max_km"),
        Num.roundd(col("hm").cast("double") / col("n").cast("double") / 10.0, 2).as("avg_km"))
      .orderBy("hub")
  }

  /** Grid-cell occupancy: 0.5°-resolution integer cells (the grid-file
    * page directory), top 100 by population. Pure integer output. */
  def qGeoCellCounts(s: SparkSession, d: String): DataFrame =
    custPoints(s, d)
      .select(col("seg"),
        (floor((col("lat") + 90.0) * 2.0).cast("long") * 720L +
          floor((col("lon") + 180.0) * 2.0).cast("long")).as("cell"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), countDistinct("seg").as("segs"))
      .orderBy(col("n").desc, col("cell")).limit(100)

  /** Grid-bucketed rectangle⋈point spatial join: each supplier box
    * explodes to its covering 10° cells (≤16 — half-extents are ≤ 7°×12°,
    * so ≤ 3×4 cells +1 rim), points map to their single cell, the
    * equi-join on cell id replaces the quadratic BETWEEN nested loop,
    * and the exact containment predicate filters the candidates. At
    * 100 TB the cell id is the partition key and the box side stays
    * broadcastable. */
  /** A box exploded to its covering 10° cells (the grid-file page list)
    * and the point→cell map — shared by the batch bbox join and the
    * streaming geofence (the static side of its stream-static join). */
  private[graft] def boxCells(bx: DataFrame): DataFrame =
    bx.withColumn("cy", explode(sequence(
        floor((col("blat") - col("hh") + 90.0) / 10.0).cast("long"),
        floor((col("blat") + col("hh") + 90.0) / 10.0).cast("long"))))
      .withColumn("cx", explode(sequence(
        floor((col("blon") - col("hw") + 180.0) / 10.0).cast("long"),
        floor((col("blon") + col("hw") + 180.0) / 10.0).cast("long"))))
      .withColumn("cell", col("cy") * 36L + col("cx"))

  private[graft] def cellOf(lat: Column, lon: Column): Column =
    floor((lat + 90.0) / 10.0).cast("long") * 36L +
      floor((lon + 180.0) / 10.0).cast("long")

  private[graft] def inBox(lat: Column, lon: Column): Column =
    lat >= col("blat") - col("hh") && lat <= col("blat") + col("hh") &&
      lon >= col("blon") - col("hw") && lon <= col("blon") + col("hw")

  def qGeoBboxJoin(s: SparkSession, d: String): DataFrame = {
    val bx = boxCells(boxes(s, d))
    val pt = custPoints(s, d).withColumn("cell", cellOf(col("lat"), col("lon")))
    bx.join(pt, Seq("cell"))
      .filter(inBox(col("lat"), col("lon")))
      .groupBy("bid")
      .agg(count(lit(1)).as("n_inside"), min("id").as("min_id"), max("id").as("max_id"))
      .orderBy("bid")
  }

  /** k-nearest customers to a probe point by squared planar distance —
    * exact bits, no trig, no rounding tolerance. Top-k is a TakeOrdered
    * (per-partition heads + driver merge), never a full sort. */
  def qGeoKnnProbe(s: SparkSession, d: String): DataFrame =
    custPoints(s, d)
      .withColumn("d2raw",
        (col("lat") - 17.3) * (col("lat") - 17.3) + (col("lon") - 42.7) * (col("lon") - 42.7))
      .orderBy(col("d2raw"), col("id")).limit(12) // raw-bit order like the oracle: a 6 dp tie must not reorder
      .select(col("id"), col("seg"), Num.roundd(col("d2raw"), 6).as("d2"))

  /** The core-cell rollup every grid-cluster face shares: points
    * aggregate to 10° cells (one map-side-combining hash aggregate,
    * linear in the corpus), cells with ≥ 4 points are core. Output is
    * bounded by the GRID — ≤ 18×36 = 648 rows — never by the corpus. */
  private[graft] def coreCells(s: SparkSession, d: String): DataFrame =
    custPoints(s, d)
      .select(floor((col("lat") + 90.0) / 10.0).cast("long").as("cy"),
        floor((col("lon") + 180.0) / 10.0).cast("long").as("cx"))
      .groupBy("cy", "cx").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 4L)

  /** Grid-density clustering (cell-quantized DBSCAN): core cells connect
    * by 8-neighbor adjacency; components label by minimum cell id.
    * Component-finding runs DRIVER-SIDE over the collected cell rollup —
    * a bounded manifest op (≤ 648 rows at this 10° resolution, a GRID
    * constant independent of corpus size; ScaleBench measures the query
    * floor-bound at 100×). A fine grid that outgrows the driver would
    * swap in Dedup.connectedComponentsStar on the same edge list — the
    * distributed device q_dedup_cluster runs at scale, and GeoSpec holds
    * this fold equal to it on the same cells. */
  def qGeoGridCluster(s: SparkSession, d: String): DataFrame = {
    val cells = coreCells(s, d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    val parent = scala.collection.mutable.Map(cells.map(_._1).map(c => c -> c): _*)
    def find(c: (Long, Long)): (Long, Long) =
      if (parent(c) == c) c else { val r = find(parent(c)); parent(c) = r; r }
    for (((y1, x1), _) <- cells; ((y2, x2), _) <- cells
         if (y1, x1) != (y2, x2) && math.abs(y1 - y2) <= 1 && math.abs(x1 - x2) <= 1)
      parent(find((y1, x1))) = find((y2, x2))
    val rows = cells.groupBy { case (c, _) => find(c) }.map { case (_, members) =>
      (members.map { case ((y, x), _) => y * 36L + x }.min,
        members.size.toLong, members.map(_._2).sum)
    }.toSeq.sortBy(_._1)
    import s.implicits._
    rows.toDF("cluster_id", "n_cells", "n_points").orderBy("cluster_id")
  }

  /** Nearest-hub assignment: broadcast the 25 hubs against every
    * customer, keep each customer's closest by squared planar distance
    * (hub id breaks exact ties), roll up per hub. The classic
    * broadcast-kNN shape: one pass over points, no point-side shuffle
    * until the 25-row aggregate. */
  def qGeoNearestHub(s: SparkSession, d: String): DataFrame =
    custPoints(s, d).crossJoin(broadcast(hubs(s, d)))
      .withColumn("d2",
        (col("lat") - col("hlat")) * (col("lat") - col("hlat")) +
          (col("lon") - col("hlon")) * (col("lon") - col("hlon")))
      // argmin as min(struct(d2, hkey, hub)) — lexicographic struct min ≡
      // the oracle's row_number ordering (hkey breaks exact-bit d2 ties),
      // but as a HASH AGGREGATE the 25× fan-out collapses map-side before
      // the shuffle, where a window over id would shuffle every pair
      .groupBy("id")
      .agg(min(struct(col("d2"), col("hkey"), col("hub"))).as("m"))
      .groupBy(col("m.hkey").as("hkey"), col("m.hub").as("hub"))
      .agg(count(lit(1)).as("n_assigned"),
        Num.roundd(max(col("m.d2")), 6).as("max_d2"))
      .orderBy("hkey")

  /** Per-user trajectory length: events ordered by time become a
    * polyline (deterministic per-event points), segment lengths are
    * exact planar sqrt, the total rides the µ-unit exact sum. One
    * shuffle on user_id + per-key sort — the sessionization shape. */
  /** Per-event point derivation, appended to whatever columns `ev`
    * carries — shared with the streaming geofence face. */
  private[graft] def withEventPoint(ev: DataFrame): DataFrame =
    ev.withColumn("elat", ((col("event_id") * lit(4621L)) % 1600L).cast("double") / 10.0 - 80.0)
      .withColumn("elon", ((col("event_id") * lit(9043L)) % 3500L).cast("double") / 10.0 - 175.0)

  def qGeoTrajectory(s: SparkSession, d: String): DataFrame = {
    val ev = withEventPoint(
      Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id")))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seg = ev
      .withColumn("plat", lag("elat", 1).over(w))
      .withColumn("plon", lag("elon", 1).over(w))
      .filter(col("plat").isNotNull)
      .withColumn("len", sqrt(
        (col("elat") - col("plat")) * (col("elat") - col("plat")) +
          (col("elon") - col("plon")) * (col("elon") - col("plon"))))
    seg.groupBy("user_id")
      .agg(count(lit(1)).as("n_moves"),
        sum(toUnits(col("len"), 6)).as("mu"),
        Num.roundd(max("len"), 6).as("max_leg"))
      .select(col("user_id"), col("n_moves"),
        Num.roundd(col("mu").cast("double") / 1e6, 6).as("path_deg"), col("max_leg"))
      .orderBy("user_id")
  }

  /** Spatiotemporal heatmap: events per (day, 10° cell), top 10 cells
    * per day — the geo twin of q_ts_topk_per_day. One hash aggregate
    * over the scan (linear), then a window over the day×cell rollup
    * (bounded by days × grid, never by events). */
  def qGeoStHeatmap(s: SparkSession, d: String): DataFrame = {
    val cells = withEventPoint(Tables.events(s, d).select(col("ts"), col("event_id")))
      .select(date_trunc("day", col("ts")).cast("date").as("dday"),
        cellOf(col("elat"), col("elon")).as("cell"))
      .groupBy("dday", "cell").agg(count(lit(1)).as("n"))
    cells.withColumn("rn", row_number().over(
        Window.partitionBy("dday").orderBy(col("n").desc, col("cell"))))
      .filter(col("rn") <= 10)
      .select(col("dday"), col("cell"), col("n"), col("rn").cast("long").as("rn"))
      .orderBy("dday", "rn")
  }

  /** Origin→destination matrix: each user's FIRST and LAST event cell
    * (by event time, event_id breaking ties) become an OD pair; output
    * = user counts per pair. The endpoints come from min/max over a
    * lexicographic struct — one map-side-combining hash aggregate over
    * the scan, no per-user window sort. */
  def qGeoOdMatrix(s: SparkSession, d: String): DataFrame =
    withEventPoint(Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id")))
      .select(col("user_id"), col("ts"), col("event_id"),
        cellOf(col("elat"), col("elon")).as("cell"))
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"), col("cell"))).as("f"),
        max(struct(col("ts"), col("event_id"), col("cell"))).as("l"))
      .groupBy(col("f.cell").as("o_cell"), col("l.cell").as("d_cell"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("o_cell", "d_cell")

  /** Haversine radius search around a probe (48.85, 2.35): per-segment
    * membership counts inside 3000 km plus rounded min/max — counts
    * against a generic threshold and same-row picks, the trig-safe
    * output classes. At scale the grid cell prunes candidate partitions
    * before any trig runs (the bbox of a 3000 km cap is exact). */
  def qGeoRadiusSearch(s: SparkSession, d: String): DataFrame =
    custPoints(s, d)
      .withColumn("km", haversineKm(col("lat"), col("lon"), lit(48.85), lit(2.35)))
      .filter(col("km") < 3000.0)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"),
        Num.roundd(min("km"), 3).as("min_km"),
        Num.roundd(max("km"), 3).as("max_km"))
      .orderBy("seg")

  // ---- catalog ------------------------------------------------------------

  val all: Seq[Entry] = Seq(
    Entry("q_geo_hub_distance", qGeoHubDistance, Some(
      s"WITH $HubsCte, " +
        "km AS (SELECT h.hub, " + hav("CAST((c_custkey * 7919) % 1700 AS DOUBLE) / 10.0 - 85.0",
          "CAST((c_custkey * 104729) % 3600 AS DOUBLE) / 10.0 - 180.0", "h.hlat", "h.hlon") + " km " +
        "FROM customer c JOIN hubs h ON h.hkey = c.c_nationkey) " +
        "SELECT hub, count(*) n, round(min(km), 3) min_km, round(max(km), 3) max_km, " +
        s"round(CAST(sum(${unitsSql("km", 1)}) AS DOUBLE) / count(*) / 10.0, 2) avg_km " +
        "FROM km GROUP BY hub ORDER BY hub")),
    Entry("q_geo_cell_counts", qGeoCellCounts, Some(
      s"WITH $PtsCte " +
        "SELECT CAST(floor((lat + 90.0) * 2.0) AS BIGINT) * 720 + CAST(floor((lon + 180.0) * 2.0) AS BIGINT) cell, " +
        "count(*) n, count(DISTINCT seg) segs FROM pts GROUP BY 1 ORDER BY n DESC, cell LIMIT 100")),
    Entry("q_geo_bbox_join", qGeoBboxJoin, Some(
      s"WITH $PtsCte, $BoxesCte " +
        "SELECT bid, count(*) n_inside, min(id) min_id, max(id) max_id FROM boxes b JOIN pts p " +
        "ON p.lat BETWEEN b.blat - b.hh AND b.blat + b.hh AND p.lon BETWEEN b.blon - b.hw AND b.blon + b.hw " +
        "GROUP BY bid ORDER BY bid")),
    Entry("q_geo_knn_probe", qGeoKnnProbe, Some(
      s"WITH $PtsCte " +
        "SELECT id, seg, round((lat - 17.3) * (lat - 17.3) + (lon - 42.7) * (lon - 42.7), 6) d2 " +
        "FROM pts ORDER BY (lat - 17.3) * (lat - 17.3) + (lon - 42.7) * (lon - 42.7), id LIMIT 12")),
    Entry("q_geo_grid_cluster", qGeoGridCluster, Some(
      s"WITH RECURSIVE $PtsCte, " +
        "cells AS (SELECT cy, cx, count(*) n, cy * 36 + cx cell FROM (" +
        "SELECT CAST(floor((lat + 90.0) / 10.0) AS BIGINT) cy, CAST(floor((lon + 180.0) / 10.0) AS BIGINT) cx " +
        "FROM pts) GROUP BY 1, 2 HAVING count(*) >= 4), " +
        "ve AS (SELECT a.cell id_a, b.cell id_b FROM cells a JOIN cells b ON a.cell < b.cell " +
        "AND abs(a.cy - b.cy) <= 1 AND abs(a.cx - b.cx) <= 1), " +
        "sym AS (SELECT id_a s, id_b t FROM ve UNION ALL SELECT id_b, id_a FROM ve), " +
        "r(s, t) AS (SELECT s, t FROM sym UNION SELECT r.s, e.t FROM r JOIN sym e ON e.s = r.t), " +
        "lbl AS (SELECT s AS id, least(s, min(t)) cl FROM r GROUP BY s) " +
        "SELECT coalesce(lbl.cl, cells.cell) cluster_id, count(*) n_cells, CAST(sum(cells.n) AS BIGINT) n_points " +
        "FROM cells LEFT JOIN lbl ON lbl.id = cells.cell GROUP BY 1 ORDER BY 1")),
    Entry("q_geo_nearest_hub", qGeoNearestHub, Some(
      s"WITH $PtsCte, $HubsCte, " +
        "ranked AS (SELECT p.id, h.hkey, h.hub, " +
        "(p.lat - h.hlat) * (p.lat - h.hlat) + (p.lon - h.hlon) * (p.lon - h.hlon) d2, " +
        "row_number() OVER (PARTITION BY p.id ORDER BY " +
        "(p.lat - h.hlat) * (p.lat - h.hlat) + (p.lon - h.hlon) * (p.lon - h.hlon), h.hkey) rn " +
        "FROM pts p CROSS JOIN hubs h) " +
        "SELECT hkey, hub, count(*) n_assigned, round(max(d2), 6) max_d2 " +
        "FROM ranked WHERE rn = 1 GROUP BY hkey, hub ORDER BY hkey")),
    Entry("q_geo_trajectory", qGeoTrajectory, Some(
      "WITH ev AS (SELECT user_id, ts, event_id, " +
        "CAST((event_id * 4621) % 1600 AS DOUBLE) / 10.0 - 80.0 elat, " +
        "CAST((event_id * 9043) % 3500 AS DOUBLE) / 10.0 - 175.0 elon FROM events), " +
        "seg AS (SELECT user_id, sqrt((elat - plat) * (elat - plat) + (elon - plon) * (elon - plon)) len " +
        "FROM (SELECT user_id, elat, elon, lag(elat) OVER (PARTITION BY user_id ORDER BY ts, event_id) plat, " +
        "lag(elon) OVER (PARTITION BY user_id ORDER BY ts, event_id) plon FROM ev) WHERE plat IS NOT NULL) " +
        "SELECT user_id, count(*) n_moves, " +
        s"round(CAST(sum(${unitsSql("len", 6)}) AS DOUBLE) / 1e6, 6) path_deg, " +
        "round(max(len), 6) max_leg FROM seg GROUP BY user_id ORDER BY user_id")),
    Entry("q_geo_st_heatmap", qGeoStHeatmap, Some(
      "WITH ev AS (SELECT date_trunc('day', ts) dday, " +
        "CAST(floor((CAST((event_id * 4621) % 1600 AS DOUBLE) / 10.0 - 80.0 + 90.0) / 10.0) AS BIGINT) * 36 + " +
        "CAST(floor((CAST((event_id * 9043) % 3500 AS DOUBLE) / 10.0 - 175.0 + 180.0) / 10.0) AS BIGINT) cell FROM events), " +
        "agg AS (SELECT dday, cell, count(*) n FROM ev GROUP BY 1, 2), " +
        "r AS (SELECT dday, cell, n, CAST(row_number() OVER (PARTITION BY dday ORDER BY n DESC, cell) AS BIGINT) rn FROM agg) " +
        "SELECT dday, cell, n, rn FROM r WHERE rn <= 10 ORDER BY dday, rn")),
    Entry("q_geo_od_matrix", qGeoOdMatrix, Some(
      "WITH ev AS (SELECT user_id, ts, event_id, " +
        "CAST(floor((CAST((event_id * 4621) % 1600 AS DOUBLE) / 10.0 - 80.0 + 90.0) / 10.0) AS BIGINT) * 36 + " +
        "CAST(floor((CAST((event_id * 9043) % 3500 AS DOUBLE) / 10.0 - 175.0 + 180.0) / 10.0) AS BIGINT) cell FROM events), " +
        "r AS (SELECT user_id, cell, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn_a, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn_d FROM ev), " +
        "od AS (SELECT f.user_id, f.cell o_cell, l.cell d_cell FROM r f JOIN r l ON f.user_id = l.user_id " +
        "AND f.rn_a = 1 AND l.rn_d = 1) " +
        "SELECT o_cell, d_cell, count(*) n_users FROM od GROUP BY 1, 2 ORDER BY 1, 2")),
    Entry("q_geo_radius_search", qGeoRadiusSearch, Some(
      s"WITH $PtsCte " +
        s"SELECT seg, count(*) n, round(min(km), 3) min_km, round(max(km), 3) max_km FROM (" +
        s"SELECT seg, ${hav("lat", "lon", "48.85", "2.35")} km FROM pts) WHERE km < 3000.0 " +
        "GROUP BY seg ORDER BY seg")))
}
