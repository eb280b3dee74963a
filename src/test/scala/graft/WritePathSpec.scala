package graft

import graft.operators.{Llm, Num, Similarity}
import graft.sources.{Ingest, IngestQueries, Versioned}
import org.apache.spark.sql.functions._

/** The write path (graft.sources.Ingest): layouts must (a) round-trip the
  * data exactly and (b) actually prune/co-locate — asserted on the plans
  * and the scanned file sets, not just on result values. */
class WritePathSpec extends SparkSuite {

  private val root =
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-test-ingest"

  /** The partition listings each file scan in `df` would read — AFTER
    * partition pruning (unlike `df.inputFiles`, which lists the whole
    * relation regardless of filters). */
  private def scanListings(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.selectedPartitions
    }

  test("events by day: partition filter prunes directories, values round-trip") {
    val path = Ingest.eventsByDay(spark, sf0001, root)
    val all = Ingest.readEventsByDay(spark, path)
    // 30 days of data → 30 partition directories
    val days = all.select("day").distinct().count()
    assert(days == 30, s"expected 30 day partitions, got $days")

    val pruned = all.filter(
      col("day").between(lit("2024-01-05").cast("date"), lit("2024-01-09").cast("date")))
    // pruning happens at planning: only the 5 matching directories are read
    val listing = scanListings(pruned).head
    assert(listing.partitionCount == 5,
      s"pruned scan reads ${listing.partitionCount}/30 partitions")
    assert(listing.toPartitionArray.forall { f =>
      (5 to 9).exists(dd => f.filePath.toString.contains(f"day=2024-01-$dd%02d"))
    }, "pruned scan read a file outside the requested day range")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"), plan)

    // the layout preserves the data: same rows as filtering the source
    val direct = Tables.events(spark, sf0001)
      .filter(to_date(col("ts")).between(
        lit("2024-01-05").cast("date"), lit("2024-01-09").cast("date")))
    assert(pruned.count() == direct.count())
    val a = pruned.select("event_id", "ts", "user_id", "event_type", "value")
    val b = direct.select("event_id", "ts", "user_id", "event_type", "value")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("embeddings by bucket: driver-side bucket = expression bucket; probe reads one directory") {
    val nPlanes = 6
    val path = Ingest.embeddingsByBucket(spark, sf0001, nPlanes, root = root)
    val emb = Tables.embeddings(spark, sf0001)

    // srpBucketOf (driver twin) agrees with the codegen'd srpBucket column
    val expected = emb
      .withColumn("b", Similarity.srpBucket("embedding", nPlanes))
      .select("vec_id", "b", "embedding").collect()
    expected.foreach { r =>
      val vec = r.getSeq[Float](2).toArray.map(_.toDouble)
      assert(Ingest.srpBucketOf(vec, nPlanes) == r.getInt(1),
        s"vec ${r.getLong(0)}: driver bucket != expression bucket")
    }

    // probe scan is pruned to the probe's single bucket directory
    val probeVec = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).toArray.map(_.toDouble)
    val b = Ingest.srpBucketOf(probeVec, nPlanes)
    val topk = Ingest.annTopKPruned(spark, path, probeVec, excludeId = 0L, k = 5, nPlanes = nPlanes)
    val listing = scanListings(topk).head
    val probeFiles = listing.toPartitionArray.map(_.filePath.toString)
    assert(listing.partitionCount == 1 && probeFiles.forall(_.contains(s"bucket=$b")),
      s"probe scan read ${listing.partitionCount} partitions: ${probeFiles.mkString(", ")}")

    // same answer as the unpartitioned ANN for the same planes
    val unpart = Similarity.annTopK(emb, "vec_id", "embedding", 0L, 5, nPlanes)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val part = topk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(part == unpart, s"pruned ANN $part != unpartitioned ANN $unpart")
  }

  test("docs by shard: single-shard serve reads 1/16 directories, layout round-trips") {
    val path = Ingest.docsByShard(spark, sf0001, root)
    val all = spark.read.parquet(path)
    // every doc routed exactly once, 16 shard directories
    assert(all.count() == Tables.documents(spark, sf0001).count())
    assert(all.select("shard").distinct().count() == 16)

    val pruned = all.filter(col("shard") === 3)
    val listing = scanListings(pruned).head
    assert(listing.partitionCount == 1 &&
      listing.toPartitionArray.forall(_.filePath.toString.contains("shard=3")),
      s"shard serve read ${listing.partitionCount} partitions")

    // layout slice == recomputing the hash rule on the raw table
    val direct = Tables.documents(spark, sf0001)
      .filter(expr(s"pmod(${graft.operators.Dedup.h60("'shard'", "cast(doc_id as string)")}, 16)") === 3)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val slice = pruned.select("doc_id", "text", "lang", "source", "n_chars")
    assert(slice.except(direct).count() == 0 && direct.except(slice).count() == 0)
  }

  test("catalog q_ann_bucket_pruned matches within-bucket exact search") {
    // the catalog face returns rounded sims over the probe's bucket; check
    // it against an independently computed in-bucket brute force
    val got = IngestQueries.qAnnBucketPruned(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val emb = Tables.embeddings(spark, sf0001)
    val probeVec = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).toArray.map(_.toDouble)
    val pb = Ingest.srpBucketOf(probeVec, 6)
    val want = emb.withColumn("b", Similarity.srpBucket("embedding", 6))
      .filter(col("b") === pb && col("vec_id") =!= 0)
      .withColumn("__p", typedlit(probeVec.map(_.toFloat).toSeq))
      .withColumn("sim", Num.roundd(Llm.cosineNative(spark, "embedding", "__p"), 6))
      .select("vec_id", "sim")
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"catalog $got != in-bucket brute force $want")
  }

  test("batch multiprobe ANN: scan pruned to probed buckets, recall ≥ single-bucket") {
    val nPlanes = 6
    val path = Ingest.embeddingsByBucket(spark, sf0001, nPlanes, root = root)
    val emb = Tables.embeddings(spark, sf0001)
    val probes = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .sortBy(_._1).toSeq

    // scan reads ONLY the probed bucket directories: ≤ 3 probes × 7
    // buckets of the 2^6 layout dirs, and every file is from a probed one
    val probedBuckets = probes.flatMap { case (_, v) =>
      val b = Ingest.srpBucketOf(v, nPlanes)
      b +: (0 until nPlanes).map(h => b ^ (1 << h))
    }.toSet
    val q = Ingest.annBatchPruned(spark, path, probes, k = 3, nPlanes = nPlanes)
    val listing = scanListings(q).head
    assert(listing.partitionCount <= probedBuckets.size && listing.partitionCount < 64,
      s"multiprobe scan read ${listing.partitionCount} partitions, probed ${probedBuckets.size}")
    assert(listing.toPartitionArray.forall { f =>
      probedBuckets.exists(b => f.filePath.toString.contains(s"bucket=$b"))
    }, "multiprobe scan read a file outside the probed buckets")

    // multiprobe must dominate single-bucket LSH: for each probe, its
    // hamming-1 candidate set is a superset of the own-bucket set, so
    // every within-own-bucket top-k sim is ≤ the multiprobe rank-k sim
    // scala twin of Num.roundd: round-half-up on the magnitude
    def r6(x: Double): Double = {
      val m = math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
      if (x < 0) -m else m
    }
    val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty, "multiprobe returned no neighbors")
    probes.foreach { case (pid, v) =>
      val own = Ingest.annTopKPruned(spark, path, v, excludeId = pid, k = 3, nPlanes = nPlanes)
        .collect().map(r => r6(r.getDouble(1)))
      val multi = got.filter(_._1 == pid).sortBy(_._2).map(_._4)
      own.zip(multi).foreach { case (o, m) =>
        assert(m >= o, s"probe $pid: multiprobe sim $m < single-bucket sim $o")
      }
    }
  }

  test("bucketed tables: equi-join on the bucket key has no Exchange") {
    val orders = Tables.orders(spark, sf0001)
    val customer = Tables.customer(spark, sf0001)
    Ingest.writeBucketed(orders, "b_orders", "o_custkey", 8)
    Ingest.writeBucketed(customer, "b_customer", "c_custkey", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // the join itself is exchange-free: both sides arrive hash-bucketed
      // by the key. (The groupBy above the join still shuffles — assert on
      // the join inputs, not the whole plan.)
      val joinSection = plan.split("HashAggregate").last
      assert(joinSection.contains("SortMergeJoin") || joinSection.contains("ShuffledHashJoin"), plan)
      assert(!joinSection.contains("Exchange"), s"bucketed join shuffled:\n$plan")
      // and it agrees with the unbucketed join
      val want = orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = j.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("continuous aggregate: tail scan pruned to open days, rollup+tail ≡ direct") {
    val cutoff = "2024-01-26"
    val served = Ingest.caggDailyServe(spark, sf0001, cutoff, root)
    served.collect() // force planning + execution

    // the raw-events scan under the serve plan reads ONLY the ≥cutoff tail
    // directories; closed history comes from the rollup summary file
    val listings = scanListings(served)
    val rawListing = listings.filter(_.toPartitionArray.nonEmpty)
      .find(_.toPartitionArray.exists(_.filePath.toString.contains("day=")))
    assert(rawListing.isDefined, "no partitioned raw scan found under the serve plan")
    val files = rawListing.get.toPartitionArray.map(_.filePath.toString)
    assert(rawListing.get.partitionCount == 5,
      s"tail scan reads ${rawListing.get.partitionCount}/30 day dirs — rollup not serving the past")
    assert(files.forall(f => (26 to 30).exists(dd => f.contains(s"day=2024-01-$dd"))),
      s"tail scan read a closed-history directory: ${files.mkString(", ")}")

    // serving from rollup+tail equals aggregating raw events directly
    // through the same two-level rounding
    import graft.operators.Num
    val direct = Tables.events(spark, sf0001)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 8).as("sv8"))
      .groupBy(date_trunc("day", col("h")).cast("date").as("dday"), col("event_type"))
      .agg(sum("cnt").as("cnt"), Num.roundd(Num.roundd(sum("sv8"), 8), 2).as("sv"))
      .orderBy("dday", "event_type")
    val a = served.collect().map(_.toSeq).toSeq
    val b = direct.collect().map(_.toSeq).toSeq
    assert(a == b, s"cagg serve diverged from direct aggregation (first served=${a.headOption}, direct=${b.headOption})")
  }

  test("versioned OCC: two interleaved committers serialize into a linearizable history") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = root + "/occ_versioned"
    fs.delete(new Path(dir), true)
    import spark.implicits._
    Versioned.create(spark, dir,
      (0L until 40L).map(i => (i, i * 10)).toDF("doc_id", "score").repartition(4))

    // Writer A derives its manifest against v1 — but BEFORE A's CAS,
    // writer B commits v2 (the deterministic interleaving: B runs inside
    // A's first build invocation). A must LOSE the CAS on v2, re-derive
    // against B's snapshot, and land v3 carrying BOTH mutations.
    val batchA = Seq((1L, 111L), (40L, 400L)).toDF("doc_id", "score") // update + insert
    val batchB = Seq((2L, 222L)).toDF("doc_id", "score")
    var builds = 0
    val vA = Versioned.commit(spark, dir) { v =>
      builds += 1
      if (builds == 1) {
        val vB = Versioned.upsert(spark, dir, "doc_id", batchB)
        assert(vB == 2L, s"writer B should land v2, got $vB")
      }
      Versioned.upsertNames(spark, dir, v, "doc_id", batchA)
    }
    assert(builds == 2, s"A must re-derive after losing the CAS (built $builds times)")
    assert(vA == 3L, s"A should land v3, got $vA")

    // linearizable history: v2 = B only; v3 = B + A, in commit order
    val v2 = Versioned.read(spark, dir, 2L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2(2L) == 222L && v2(1L) == 10L && !v2.contains(40L))
    val v3 = Versioned.read(spark, dir, 3L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v3(1L) == 111L && v3(2L) == 222L && v3(40L) == 400L)
    assert(v3.size == 41)

    // A's lost attempt orphaned staged bytes; vacuum collects them and
    // the surviving latest still reads back whole
    val (deadFiles, _) = Versioned.vacuum(spark, dir, keepLast = 1)
    assert(deadFiles > 0, "the lost attempt's staged files should be orphans")
    assert(Versioned.read(spark, dir).count() == 41)
  }

  test("ANN CDC: delete + upsert maintain the by-bucket layout; untouched buckets byte-identical; probes ≡ rebuild") {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def snapshot(path: String): Map[String, (Long, Long)] =
      fs.listStatus(new Path(path))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .flatMap(d => fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          .map(f => f.getPath.toString -> (f.getLen, f.getModificationTime)))
        .toMap
    // fresh layout copy (not the shared memoized fixture)
    val src = Ingest.embeddingsByBucket(spark, sf0001, root = root)
    val dst = root + "/ann_cdc_spec"
    fs.delete(new Path(dst), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(src), fs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration)
    Ingest.writeEmbeddingsVecIndex(spark, dst)

    val emb = Tables.embeddings(spark, sf0001)
    val delIds = Seq(3L, 11L)
    val upIds = Seq(5L, 17L)
    val before = snapshot(dst)
    val dstats = Ingest.annDeleteVectors(spark, dst, delIds)
    assert(dstats.rowsDeleted == 2, s"expected 2 rows deleted, got $dstats")
    val mid = snapshot(dst)
    // untouched buckets: every file not in a rewritten bucket is byte-identical
    val rewrittenDirs1 = before.keySet.diff(mid.keySet) ++ mid.keySet.diff(before.keySet)
    before.foreach { case (f, meta) =>
      if (mid.contains(f) && !rewrittenDirs1.exists(r => new Path(r).getParent == new Path(f).getParent))
        assert(mid(f) == meta, s"untouched file changed: $f")
    }
    assert(dstats.filesRewritten < dstats.filesTotal,
      "delete must not rewrite every bucket")

    val upd = emb.filter(col("vec_id").isin(upIds: _*))
      .withColumn("embedding", expr("transform(embedding, x -> -x)"))
    val ustats = Ingest.annUpsertVectors(spark, dst, upd)
    assert(ustats.rowsDeleted == 2, s"expected 2 stale rows replaced, got $ustats")

    // the maintained layout ≡ a from-scratch rebuild of the mutated corpus
    val mutated = emb.filter(!col("vec_id").isin(delIds: _*))
      .withColumn("embedding",
        when(col("vec_id").isin(upIds: _*), expr("transform(embedding, x -> -x)"))
          .otherwise(col("embedding")))
    val rebuilt = root + "/ann_cdc_rebuilt"
    Ingest.writeEmbeddingsByBucket(mutated, rebuilt)
    def rows(p: String) = spark.read.parquet(p)
      .select("vec_id", "bucket", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2))).sortBy(_._1).toSeq
    assert(rows(dst) == rows(rebuilt), "maintained layout diverged from rebuild")

    // upserted vectors provably MOVED: negation flips every SRP sign
    val moved = spark.read.parquet(dst).filter(col("vec_id").isin(upIds: _*))
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val orig = spark.read.parquet(src).filter(col("vec_id").isin(upIds: _*))
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    upIds.foreach(id => assert(moved(id) == (~orig(id) & 63),
      s"vec $id should land in the complement bucket"))

    // probe parity: maintained-layout probe ≡ rebuilt-layout probe
    val probeVec = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray.map(_.toDouble)
    def probe(p: String) = Ingest.annTopKPruned(spark, p, probeVec, 0L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe(dst) == probe(rebuilt), "post-CDC probe diverged from rebuild")
  }

  test("cagg route: raw scan pruned to tail∩range; fully-closed range reads zero raw dirs") {
    // range [Jan 10, Jan 29) with cutoff Jan 26: raw must list exactly
    // days 26, 27, 28
    val routed = Ingest.caggRoute(spark, sf0001, "2024-01-10", "2024-01-29", root = root)
    val rawListing = scanListings(routed).filter(_.toPartitionArray.nonEmpty)
      .find(_.toPartitionArray.exists(_.filePath.toString.contains("day=")))
    assert(rawListing.isDefined, "no partitioned raw scan under the route plan")
    assert(rawListing.get.partitionCount == 3,
      s"tail∩range should list 3 dirs, got ${rawListing.get.partitionCount}")
    assert(rawListing.get.toPartitionArray.forall(f =>
      (26 to 28).exists(dd => f.filePath.toString.contains(s"day=2024-01-$dd"))))

    // fully-closed range [Jan 5, Jan 12): the raw side lists NOTHING
    val closed = Ingest.caggRoute(spark, sf0001, "2024-01-05", "2024-01-12", root = root)
    val closedRaw = scanListings(closed)
      .filter(_.toPartitionArray.exists(_.filePath.toString.contains("day=")))
    assert(closedRaw.isEmpty || closedRaw.forall(_.partitionCount == 0),
      "a fully-closed range must read no raw directory at all")

    // routed answer ≡ direct aggregation over the range (two-level rounding)
    import graft.operators.Num
    val direct = Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-29").cast("timestamp_ntz"))
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 8).as("sv8"))
      .groupBy(date_trunc("day", col("h")).cast("date").as("dday"), col("event_type"))
      .agg(sum("cnt").as("cnt"), Num.roundd(Num.roundd(sum("sv8"), 8), 2).as("sv"))
      .orderBy("dday", "event_type")
    assert(routed.collect().map(_.toSeq).toSeq == direct.collect().map(_.toSeq).toSeq)
  }

  test("RollupRouting rule: naive count aggregate is rewritten to rollup ∪ pruned tail") {
    val rollupPath = Ingest.eventsHourlyRollup(spark, sf0001, root = root)
    val rawPath = Ingest.eventsByDay(spark, sf0001, root)
    graft.plans.RollupRouting.register(spark, rawPath, rollupPath, "2024-01-26")
    def naive() = Ingest.readEventsByDay(spark, rawPath)
      .filter(col("ts") >= lit("2024-01-08").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-29").cast("timestamp_ntz"))
      .groupBy(date_trunc("day", col("ts")).cast("date").as("dday"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("dday", "event_type")
    val df = naive()
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("Union") && plan.contains("sum(cnt"),
      s"rule did not route to the rollup:\n$plan")
    val scanPaths = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scanPaths.exists(_.contains("events_hourly_rollup")),
      s"no rollup scan in routed plan: ${scanPaths.mkString(", ")}")
    // the raw tail scan lists only the 3 open∩range directories
    val rawListing = scanListings(df)
      .find(_.toPartitionArray.exists(_.filePath.toString.contains("day=")))
    assert(rawListing.isDefined, "no raw tail scan in routed plan")
    assert(rawListing.get.partitionCount == 3,
      s"routed tail should list 3 dirs, got ${rawListing.get.partitionCount}")
    // and the answer is bit-identical to the unrouted aggregate
    val want = Tables.events(spark, sf0001)
      .filter(col("ts") >= lit("2024-01-08").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-29").cast("timestamp_ntz"))
      .groupBy(date_trunc("day", col("ts")).cast("date").as("dday"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("dday", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq == want)
  }

  test("RollupRouting rule: value sums and extra predicates are NOT routed") {
    val rollupPath = Ingest.eventsHourlyRollup(spark, sf0001, root = root)
    val rawPath = Ingest.eventsByDay(spark, sf0001, root)
    graft.plans.RollupRouting.register(spark, rawPath, rollupPath, "2024-01-26")
    // sum(value) is inexact through the 8dp rollup — must stay raw
    val sums = Ingest.readEventsByDay(spark, rawPath)
      .filter(col("ts") >= lit("2024-01-08").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-29").cast("timestamp_ntz"))
      .groupBy(col("event_type")).agg(sum("value").as("sv"))
    assert(!sums.queryExecution.optimizedPlan.toString.contains("events_hourly_rollup"),
      "sum(value) must never route through the rounded rollup")
    // a non-ts predicate cannot be replayed on the rollup — must stay raw
    val pred = Ingest.readEventsByDay(spark, rawPath)
      .filter(col("ts") >= lit("2024-01-08").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-29").cast("timestamp_ntz") && col("user_id") > 10)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    assert(!pred.queryExecution.optimizedPlan.toString.contains("events_hourly_rollup"),
      "extra predicates must disable routing")
  }

  test("z-order layout: a 2-D box prunes where 1-D layouts cannot; values round-trip") {
    val q = Ingest.eventsZboxQuery(spark, sf0001, "2024-01-10", "2024-01-14", 80.0, 100.0, root)

    // the box touches exactly the enumerated prefixes — here a single one
    val zps = Ingest.zPrefixesFor(9, 13, 25, 31)
    val listing = scanListings(q).head
    assert(listing.partitionCount == zps.size,
      s"box scan reads ${listing.partitionCount} partitions, prefix walk says ${zps.size}")
    assert(listing.toPartitionArray.forall { f =>
      zps.exists(z => f.filePath.toString.contains(s"zp=$z"))
    }, "box scan read a directory outside the enumerated prefixes")
    // all 16 prefixes exist in the layout, so this is genuine pruning
    val total = spark.read.parquet(Ingest.eventsZordered(spark, sf0001, root))
      .select("zp").distinct().count()
    assert(zps.size < total, s"box touches ${zps.size} of $total prefixes — not pruning")

    // the same TIME range with no value bound touches more prefixes: the
    // 2-D curve is strictly finer than a 1-D day layout for box queries
    assert(Ingest.zPrefixesFor(9, 13, 0, 31).size > zps.size,
      "value bound added no pruning — z-interleave is broken")

    // round-trip: pruned+filtered scan ≡ direct filter on the source
    val direct = Tables.events(spark, sf0001)
      .filter(to_date(col("ts")).between(
        lit("2024-01-10").cast("date"), lit("2024-01-14").cast("date")) &&
        col("value") >= 80.0 && col("value") < 100.0)
    val a = q.select("event_id", "ts", "user_id", "event_type", "value")
    val b = direct.select("event_id", "ts", "user_id", "event_type", "value")
    assert(a.count() == b.count() && a.except(b).count() == 0 && b.except(a).count() == 0,
      s"z-box scan diverged: got ${a.count()} want ${b.count()}")
  }

  test("derived partition filters: ts-only bounds prune directories; without the rule they don't") {
    import org.apache.spark.sql.graft.PlanApi
    import graft.plans.DerivedPartitionFilters
    val path = Ingest.eventsByDay(spark, sf0001, root)
    def tsOnly = Ingest.readEventsByDay(spark, path)
      .filter(expr("ts >= TIMESTAMP_NTZ '2024-01-12 06:00:00' AND ts < TIMESTAMP_NTZ '2024-01-15 18:00:00'"))

    // without the rule: the ts predicate prunes nothing (all 30 dirs listed)
    PlanApi.removeOptimization(spark, DerivedPartitionFilters)
    val before = scanListings(tsOnly).head.partitionCount
    assert(before == 30, s"expected a full 30-dir listing without the rule, got $before")

    // with the rule: derived day bounds prune to exactly Jan-12..Jan-15
    PlanApi.addOptimization(spark, DerivedPartitionFilters)
    try {
      val listing = scanListings(tsOnly).head
      assert(listing.partitionCount == 4,
        s"derived filters should prune to 4/30 dirs, got ${listing.partitionCount}")
      assert(listing.toPartitionArray.forall { f =>
        (12 to 15).exists(dd => f.filePath.toString.contains(s"day=2024-01-$dd"))
      }, "scan read a directory outside the derived day bounds")
      // soundness: same rows as the raw-table filter
      val got = tsOnly.select("event_id").collect().map(_.getLong(0)).sorted
      val want = Tables.events(spark, sf0001)
        .filter(expr("ts >= TIMESTAMP_NTZ '2024-01-12 06:00:00' AND ts < TIMESTAMP_NTZ '2024-01-15 18:00:00'"))
        .select("event_id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == want.toSeq, "derived filters changed the result")
    } finally PlanApi.removeOptimization(spark, DerivedPartitionFilters)
  }

  test("derived partition filters: instant bounds use the RECORDED writer zone, not the session zone") {
    import org.apache.spark.sql.graft.PlanApi
    import graft.plans.DerivedPartitionFilters
    import spark.implicits._
    // an INSTANT-typed layout written under UTC: rows at 00:30 UTC land on
    // their UTC day; in America/Los_Angeles the same instants fall on the
    // PREVIOUS wall-clock day — the divergence the recorded zone must absorb
    val path = s"$root/events_zone_unit"
    val ev = (1 to 5).map { d =>
      (d.toLong, s"2024-02-0$d 00:30:00", d.toLong, "tick", 1.0 * d)
    }.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    Ingest.writeEventsByDay(ev, path)
    DerivedPartitionFilters.registerPath(spark, path) // records zone=UTC
    PlanApi.addOptimization(spark, DerivedPartitionFilters)
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      // parsed in LA: 2024-02-02 17:00 LA = 2024-02-03 01:00 UTC. The row
      // at 2024-02-03 00:30 UTC matches and lives in day=2024-02-03; a
      // session-zone derivation would bound day <= 2024-02-02 and prune
      // that directory away — a WRONG RESULT, not a missed optimization
      val q = spark.read.parquet(path)
        .filter(expr("ts < TIMESTAMP '2024-02-02 17:00:00'"))
      val got = q.select("event_id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L, 2L, 3L),
        s"writer-zone derivation lost/invented rows: got ${got.mkString(",")}")
      val listing = scanListings(q).head
      assert(listing.partitionCount == 3,
        s"expected day<=2024-02-03 to keep 3 dirs, got ${listing.partitionCount}")
    } finally {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      PlanApi.removeOptimization(spark, DerivedPartitionFilters)
    }
  }

  test("retention drop removes exactly the expired partition directories") {
    val path = Ingest.eventsWithRetention(spark, sf0001, "2024-01-08", root)
    val dirs = new java.io.File(path).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day=")).sorted
    assert(dirs.nonEmpty && dirs.head == "2024-01-08",
      s"expired partitions survive or wrong cutoff: ${dirs.take(3).mkString(",")}")
    // retained data is byte-identical to the source layout's same range
    val kept = spark.read.parquet(path).select("event_id", "ts", "value")
    val want = Tables.events(spark, sf0001)
      .filter(to_date(col("ts")) >= lit("2024-01-08").cast("date"))
      .select("event_id", "ts", "value")
    assert(kept.count() == want.count() && kept.except(want).count() == 0)
  }

  test("compaction: 8-file ingest directories rewrite to 1 file each, rows verbatim") {
    val frag = Ingest.eventsFragmented(spark, sf0001, root)
    val comp = Ingest.eventsCompacted(spark, sf0001, root)
    def filesPerDir(p: String): Seq[Int] =
      new java.io.File(p).listFiles.filter(f => f.isDirectory && f.getName.startsWith("day="))
        .map(_.listFiles.count(_.getName.endsWith(".parquet"))).toSeq
    val fragCounts = filesPerDir(frag)
    val compCounts = filesPerDir(comp)
    assert(fragCounts.nonEmpty && fragCounts.max > 1,
      s"fragmented fixture is not fragmented: $fragCounts")
    assert(compCounts.forall(_ == 1),
      s"compaction left multi-file directories: $compCounts")
    val a = spark.read.parquet(comp).select("event_id", "ts", "user_id", "event_type", "value")
    val b = Tables.events(spark, sf0001).select("event_id", "ts", "user_id", "event_type", "value")
    assert(a.count() == b.count() && a.except(b).count() == 0, "compaction altered rows")
  }

  test("schema evolution: a later-added column merges across partitions, old days null-fill") {
    import spark.implicits._
    val p = s"$root/evolution_test"
    // day 1 written before the `score` column existed; day 2 after
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$p/day=2024-01-01")
    Seq((2L, "b", 0.5)).toDF("id", "v", "score")
      .write.mode("overwrite").parquet(s"$p/day=2024-01-02")
    val merged = spark.read.option("mergeSchema", "true").parquet(p)
      .orderBy("id").collect()
    // the evolved schema is the union; pre-evolution rows read as null —
    // the contract that lets a year of ingest add columns without a
    // petabyte rewrite
    assert(merged.map(_.schema.fieldNames.toSet).head.contains("score"))
    assert(merged.length == 2)
    assert(merged(0).getAs[Any]("score") == null, "old partition must null-fill")
    assert(merged(1).getAs[Double]("score") == 0.5)
    // and the pre-evolution column still filters/projects across both days
    val n = spark.read.option("mergeSchema", "true").parquet(p)
      .filter(col("v").isin("a", "b")).count()
    assert(n == 2)
  }

  test("bloom index: point lookup scans only candidate day directories, result exact") {
    val ids = Seq(7L, 404L, 777L)
    val pruned = Ingest.eventsByIdPruned(spark, sf0001, ids, root)
    // unique ids land on ≤3 true days; bloom FPs can add a few candidate
    // dirs but must stay far from the full 30-directory scan
    val listing = scanListings(pruned.select("event_id")).head
    assert(listing.partitionCount <= 6,
      s"bloom index read ${listing.partitionCount}/30 partitions — index not pruning")
    assert(listing.partitionCount >= 1, "probed ids exist; at least their days must be read")
    // exactness: the bloom candidates + exact filter ≡ plain IN-list scan
    val got = pruned.select("event_id", "user_id", "event_type", "value")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val want = Tables.events(spark, sf0001)
      .filter(col("event_id").isin(ids: _*))
      .select("event_id", "user_id", "event_type", "value")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(got.nonEmpty && got.toSeq == want.toSeq,
      s"bloom-pruned lookup diverged: got ${got.length} want ${want.length}")
  }

  test("row-level delete: copy-on-write rewrites only affected files, index stays consistent") {
    val path = s"$root/gdpr_docs_unit"
    Ingest.writeCorpusWithIndex(Tables.documents(spark, sf0001), "doc_id", path, nFiles = 8)
    val dir = new java.io.File(path)
    def parts = dir.listFiles.filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.lastModified, f.length)).toMap
    val before = parts
    val rowsBefore = spark.read.parquet(path).count()
    val ids = Seq(7L, 13L, 101L)

    val stats = Ingest.deleteRows(spark, path, "doc_id", ids)
    assert(stats.rowsDeleted == ids.length, s"deleted ${stats.rowsDeleted}, want ${ids.length}")
    assert(stats.filesTotal == 8)
    // 3 ids hash into at most 3 files; the rest of the corpus must not be touched
    assert(stats.filesRewritten >= 1 && stats.filesRewritten <= ids.length,
      s"rewrote ${stats.filesRewritten} files for ${ids.length} ids")
    val after = parts
    val survivors = before.keySet intersect after.keySet
    assert(survivors.size == stats.filesTotal - stats.filesRewritten,
      s"${survivors.size} surviving files vs ${stats.filesTotal - stats.filesRewritten} expected")
    survivors.foreach(n => assert(before(n) == after(n), s"untouched file $n was rewritten"))

    // exactly the requested rows are gone
    val post = spark.read.parquet(path)
    assert(post.count() == rowsBefore - ids.length)
    assert(post.filter(col("doc_id").isin(ids: _*)).count() == 0)

    // idempotent: the maintained index no longer reports the deleted ids
    val again = Ingest.deleteRows(spark, path, "doc_id", ids)
    assert(again.rowsDeleted == 0, "second delete of the same ids removed rows")

    // the maintained index covers exactly the current file set
    val idxFiles = spark.read.parquet(path + "_bloomidx")
      .select("file").collect().map(_.getString(0)).toSet
    val curFiles = spark.read.parquet(path)
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet
    assert(idxFiles == curFiles, "bloom index out of sync with the corpus files")

    // catalog fixture: post-delete corpora ≡ anti-join on the raw tables
    val (pd, pe) = Ingest.gdprDeleted(spark, sf0001, root)
    val gotDocs = spark.read.parquet(pd).select("doc_id").collect().map(_.getLong(0)).sorted
    val wantDocs = Tables.documents(spark, sf0001)
      .filter(!col("doc_id").isin(Ingest.gdprIds: _*))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(gotDocs.toSeq == wantDocs.toSeq, "docs corpus after delete != anti-join")
    val gotEmb = spark.read.parquet(pe).select("vec_id").collect().map(_.getLong(0)).sorted
    val wantEmb = Tables.embeddings(spark, sf0001)
      .filter(!col("vec_id").isin(Ingest.gdprIds: _*))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(gotEmb.toSeq == wantEmb.toSeq, "embeddings corpus after delete != anti-join")
  }

  test("partitioned user delete: only the user's day directories rewrite; result ≡ anti-join") {
    val p = Ingest.eventsGdprDeleted(spark, sf0001, root)
    // exact result: the layout holds everyone else's events, verbatim
    val got = spark.read.parquet(p).select("event_id").collect().map(_.getLong(0)).sorted
    val want = Tables.events(spark, sf0001)
      .filter(!col("user_id").isin(Ingest.gdprUserIds: _*))
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq, "retained layout != anti-join on the raw table")
    // day directories the user never touched keep their exact file set
    val userDays = Tables.events(spark, sf0001)
      .filter(col("user_id").isin(Ingest.gdprUserIds: _*))
      .select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0).toString).toSet
    val srcDir = new java.io.File(Ingest.eventsByDay(spark, sf0001, root))
    new java.io.File(p).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("day=")).foreach { d =>
        val day = d.getName.stripPrefix("day=")
        val files = d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
        if (userDays.contains(day))
          assert(spark.read.parquet(d.getPath)
            .filter(col("user_id").isin(Ingest.gdprUserIds: _*)).count() == 0,
            s"day $day still holds the forgotten user")
        else {
          val srcFiles = new java.io.File(srcDir, d.getName).listFiles
            .map(_.getName).filter(_.endsWith(".parquet")).toSet
          assert(files == srcFiles, s"user-free day $day was rewritten")
        }
      }
  }

  test("late corrections: only the corrected days rewrite; values replaced in place") {
    val p = Ingest.eventsCorrected(spark, sf0001, root)
    val raw = Tables.events(spark, sf0001)
    // row count unchanged; exactly the corrected ids carry the new value
    val sink = spark.read.parquet(p)
    assert(sink.count() == raw.count(), "correction upsert changed the row count")
    val corrected = sink.filter(col("event_id").isin(Ingest.correctionIds: _*))
      .select("event_id", "value").collect()
    assert(corrected.length == Ingest.correctionIds.length)
    corrected.foreach(r => assert(r.getDouble(1) == 999.5, s"event ${r.getLong(0)} not corrected"))
    assert(sink.filter(col("value") === 999.5).count() == Ingest.correctionIds.length,
      "correction leaked beyond the corrected ids")
    // only the corrected events' days were rewritten
    val corrDays = raw.filter(col("event_id").isin(Ingest.correctionIds: _*))
      .select(to_date(col("ts"))).distinct().collect().map(_.getDate(0).toString).toSet
    val srcDir = new java.io.File(Ingest.eventsByDay(spark, sf0001, root))
    new java.io.File(p).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("day=")).foreach { d =>
        val day = d.getName.stripPrefix("day=")
        if (!corrDays.contains(day)) {
          val srcFiles = new java.io.File(srcDir, d.getName).listFiles
            .map(_.getName).filter(_.endsWith(".parquet")).toSet
          val dstFiles = d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
          assert(dstFiles == srcFiles, s"uncorrected day $day was rewritten")
        }
      }
  }

  test("row-level upsert: replaces, inserts, leaves unaffected files untouched, idempotent") {
    val path = s"$root/cdc_docs_unit"
    Ingest.writeCorpusWithIndex(Tables.documents(spark, sf0001), "doc_id", path, nFiles = 8)
    val dir = new java.io.File(path)
    def parts = dir.listFiles.filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.lastModified, f.length)).toMap
    val before = parts
    val rowsBefore = spark.read.parquet(path).count()
    val batch = Ingest.cdcBatch(spark)

    val stats = Ingest.upsertRows(spark, path, "doc_id", batch)
    // 2 replaced ids removed their stale versions; inserts remove nothing
    assert(stats.rowsDeleted == 2, s"removed ${stats.rowsDeleted} stale rows, want 2")
    assert(stats.filesRewritten < stats.filesTotal, "upsert rewrote the whole corpus")
    val after = parts
    val survivors = before.keySet intersect after.keySet
    survivors.foreach(n => assert(before(n) == after(n), s"untouched file $n was rewritten"))

    val post = spark.read.parquet(path)
    assert(post.count() == rowsBefore + 2, "2 inserts must grow the corpus by 2")
    assert(post.filter(col("doc_id") === 3L).head().getString(1) == "updated text three")
    assert(post.filter(col("doc_id") === 100000L).count() == 1, "insert missing")
    assert(post.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "duplicate ids after upsert")

    // idempotent: the same batch again yields the identical corpus state
    Ingest.upsertRows(spark, path, "doc_id", batch)
    val again = spark.read.parquet(path)
    assert(again.count() == rowsBefore + 2)
    assert(again.filter(col("doc_id").isin(3L, 8L, 100000L, 100001L))
      .filter(col("source") === "cdc").count() == 4)
    // index still covers exactly the current file set
    val idxFiles = spark.read.parquet(path + "_bloomidx")
      .select("file").collect().map(_.getString(0)).toSet
    val curFiles = spark.read.parquet(path)
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet
    assert(idxFiles == curFiles, "bloom index out of sync after upsert")
  }

  test("upsert batch with duplicate ids is rejected (one-row-per-id invariant)") {
    val path = s"$root/cdc_dup_unit"
    Ingest.writeCorpusWithIndex(Tables.documents(spark, sf0001), "doc_id", path, nFiles = 4)
    import spark.implicits._
    val dup = Seq(
      (3L, "first version", "en", "cdc", 13L),
      (3L, "second version", "en", "cdc", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalArgumentException] {
      Ingest.upsertRows(spark, path, "doc_id", dup)
    }
    assert(e.getMessage.contains("duplicate ids"), e.getMessage)
  }

  test("CDC batch over MaxCdcBatchIds fails loudly before any filesystem work") {
    val path = s"$root/cdc_cap_unit"
    Ingest.writeCorpusWithIndex(Tables.documents(spark, sf0001), "doc_id", path, nFiles = 4)
    val over = Ingest.MaxCdcBatchIds.toInt + 1
    // Seq-based batch API: the cap trips on size alone, no jobs run
    val eDel = intercept[IllegalArgumentException] {
      Ingest.deleteRows(spark, path, "doc_id", (1 to over).map(_.toLong))
    }
    assert(eDel.getMessage.contains("MaxCdcBatchIds"), eDel.getMessage)
    val eAnnDel = intercept[IllegalArgumentException] {
      Ingest.annDeleteVectors(spark, s"$root/nonexistent_layout",
        (1 to over).map(_.toLong))
    }
    assert(eAnnDel.getMessage.contains("MaxCdcBatchIds"), eAnnDel.getMessage)
    val eUserDel = intercept[IllegalArgumentException] {
      Ingest.deleteUserEventsInPlace(spark, s"$root/nonexistent_layout",
        (1 to over).map(_.toLong))
    }
    assert(eUserDel.getMessage.contains("MaxCdcBatchIds"), eUserDel.getMessage)
    val eCorr = intercept[IllegalArgumentException] {
      Ingest.upsertEventsInPlace(spark, s"$root/nonexistent_layout",
        spark.range(over.toLong).select(col("id").as("event_id"),
          lit("2024-01-05 00:00:00").cast("timestamp_ntz").as("ts")))
    }
    assert(eCorr.getMessage.contains("MaxCdcBatchIds"), eCorr.getMessage)
    // DataFrame-based batch API: CollectLimit reads cap+1 rows, then trips
    val big = spark.range(over.toLong).select(
      col("id").as("doc_id"), lit("t").as("text"), lit("en").as("lang"),
      lit("cdc").as("source"), lit(1L).as("n_chars"))
    val eUps = intercept[IllegalArgumentException] {
      Ingest.upsertRows(spark, path, "doc_id", big)
    }
    assert(eUps.getMessage.contains("MaxCdcBatchIds"), eUps.getMessage)
    // the corpus is untouched: all original rows still read back
    assert(spark.read.parquet(path).count() ==
      Tables.documents(spark, sf0001).count())
  }

  test("maintained bloom indexes equal the index rebuilt from the layout on disk") {
    def blooms(df: org.apache.spark.sql.DataFrame): Map[String, Vector[Byte]] =
      df.collect().map(r => r.get(0).toString -> r.getAs[Array[Byte]]("bloom").toVector).toMap
    val (docsGdpr, embGdpr) = Ingest.gdprDeleted(spark, sf0001, root)
    // (mutated layout, unit, id column, index suffix) — every grain
    val fixtures = Seq(
      (Ingest.cdcUpserted(spark, sf0001, root), "file", "doc_id", "_bloomidx"),
      (docsGdpr, "file", "doc_id", "_bloomidx"),
      (embGdpr, "file", "vec_id", "_bloomidx"),
      (Ingest.eventsGdprDeleted(spark, sf0001, root), "day", "user_id", "_useridx"),
      (Ingest.eventsCorrected(spark, sf0001, root), "day", "user_id", "_useridx"),
      (Ingest.annCdcMaintained(spark, sf0001, root = root), "bucket", "vec_id", "_vecidx"))
    fixtures.foreach { case (layout, unit, id, suffix) =>
      val kept = blooms(spark.read.parquet(layout + suffix))
      val rebuilt = blooms(Ingest.BloomIndex(layout, unit, id, layout + suffix).build(spark))
      assert(kept.keySet == rebuilt.keySet,
        s"$layout: indexed units ${kept.keySet.size} != units on disk ${rebuilt.keySet.size}")
      kept.foreach { case (u, b) =>
        assert(b == rebuilt(u), s"$layout: bloom of $unit $u diverges from a rebuild")
      }
    }
  }

  test("commit marker: a swap crashed at the worst window rolls forward with no lost row") {
    val path = s"$root/crash_docs_unit"
    Ingest.writeCorpusWithIndex(Tables.documents(spark, sf0001), "doc_id", path, nFiles = 4)
    val rowsBefore = spark.read.parquet(path).count()
    val dir = new java.io.File(path)

    // stage a rewrite of one file exactly as deleteRows would: the file
    // holding doc 7, rewritten without it, left in a staging dir
    val victim = spark.read.parquet(path)
      .filter(col("doc_id") === 7L)
      .select(col("_metadata.file_path")).head().getString(0)
    val victimFile = new java.io.File(new java.net.URI(victim).getPath)
    val tmp = s"$path-crash-stage"
    spark.read.parquet(victimFile.getPath).filter(col("doc_id") =!= 7L)
      .write.mode("overwrite").parquet(tmp)
    val staged = new java.io.File(tmp).listFiles
      .filter(_.getName.endsWith(".parquet"))

    // crash window simulated at its WORST point: the marker is published
    // but not one rename or delete has run, and the JVM is gone
    val manifest = staged.map(f =>
      s"R\t${f.getPath}\t${new java.io.File(dir, f.getName).getPath}").toSeq ++
      Seq(s"D\t${victimFile.getPath}")
    java.nio.file.Files.write(
      new java.io.File(dir, "_graft_commit.manifest").toPath,
      manifest.mkString("", "\n", "\n").getBytes("UTF-8"))

    // openCorpus rolls the swap forward: doc 7 gone, everyone else intact,
    // no duplicates, marker retired
    val recovered = Ingest.openCorpus(spark, path)
    assert(recovered.count() == rowsBefore - 1, "recovered corpus lost or duplicated rows")
    assert(recovered.filter(col("doc_id") === 7L).count() == 0, "deleted row resurrected")
    assert(recovered.groupBy("doc_id").count().filter(col("count") > 1).count() == 0,
      "duplicate ids after recovery")
    assert(!new java.io.File(dir, "_graft_commit.manifest").exists, "marker not retired")
    assert(!victimFile.exists, "superseded original not dropped")

    // recovery is idempotent under partial application: re-publish the same
    // plan with everything already done — reconcile must no-op cleanly
    java.nio.file.Files.write(
      new java.io.File(dir, "_graft_commit.manifest").toPath,
      manifest.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(Ingest.reconcile(spark, path))
    assert(spark.read.parquet(path).count() == rowsBefore - 1, "re-reconcile changed the corpus")
  }

  test("forget request reads the persisted user index + candidate days ONLY") {
    import spark.implicits._
    val path = s"$root/events_idx_unit"
    // user 99 lives on exactly 2 of 5 days
    val ev = (1 to 5).flatMap { d =>
      val users = if (d == 2 || d == 4) Seq(1L, 99L, 3L) else Seq(1L, 2L, 3L)
      users.zipWithIndex.map { case (u, i) =>
        (d * 100L + i, s"2024-03-0$d 10:0$i:00", u, "click", d * 1.5) }
    }.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp_ntz")).drop("ts_s")
    Ingest.writeEventsByDay(ev, path)

    // corrupt every NON-candidate day's data files: if the delete path
    // still scanned the layout (as it did before r8), it would throw —
    // surviving proves the only reads are the index + the user's days
    val corrupted = Seq(1, 3, 5).flatMap { d =>
      new java.io.File(path, s"day=2024-03-0$d").listFiles
        .filter(_.getName.endsWith(".parquet")).map { f =>
          java.nio.file.Files.write(f.toPath, "garbage".getBytes("UTF-8"))
          f.getPath
        }
    }

    val stats = Ingest.deleteUserEventsInPlace(spark, path, Seq(99L))
    assert(stats.filesRewritten == 2, s"rewrote ${stats.filesRewritten} days, want 2")
    assert(stats.rowsDeleted == 2, s"deleted ${stats.rowsDeleted} rows, want 2")
    Seq(2, 4).foreach { d =>
      val day = spark.read.parquet(s"$path/day=2024-03-0$d")
      assert(day.filter(col("user_id") === 99L).count() == 0, s"day $d still holds user 99")
      assert(day.count() == 2, s"day $d lost bystander rows")
    }
    corrupted.foreach { p =>
      val bytes = java.nio.file.Files.readAllBytes(new java.io.File(p).toPath)
      assert(new String(bytes, "UTF-8") == "garbage", s"non-candidate file $p was touched")
    }
    // the maintained index covers exactly the surviving days
    val idxDays = spark.read.parquet(s"${path}_useridx")
      .select("day").collect().map(_.getDate(0).toString).toSet
    assert(idxDays == (1 to 5).map(d => s"2024-03-0$d").toSet, "index days drifted")
  }

  test("day mutations stage ONE write: job count does not grow with affected days") {
    import spark.implicits._
    def mkLayout(tag: String): String = {
      val path = s"$root/events_jobs_$tag"
      val ev = (1 to 6).flatMap { d =>
        (0 to 3).map(i => (d * 100L + i, s"2024-04-0$d 09:0$i:00", i.toLong, "tap", 1.0 * d))
      }.toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .withColumn("ts", col("ts_s").cast("timestamp_ntz")).drop("ts_s")
      Ingest.writeEventsByDay(ev, path)
      path
    }
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try body finally {
        // the listener bus is async: settle before reading the counter
        var last = -1
        while (jobs.get != last) { last = jobs.get; Thread.sleep(300) }
        spark.sparkContext.removeSparkListener(l)
      }
      jobs.get
    }
    def corr(days: Seq[Int]): org.apache.spark.sql.DataFrame =
      days.map(d => (d * 100L + 1, s"2024-04-0$d 09:01:00", 1L, "tap", 777.0))
        .toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .withColumn("ts", col("ts_s").cast("timestamp_ntz")).drop("ts_s")

    val p1 = mkLayout("a")
    val jobs1 = countJobs {
      val s = Ingest.upsertEventsInPlace(spark, p1, corr(Seq(2)))
      assert(s.filesRewritten == 1 && s.rowsDeleted == 1, s.toString)
    }
    val p4 = mkLayout("b")
    val jobs4 = countJobs {
      val s = Ingest.upsertEventsInPlace(spark, p4, corr(Seq(1, 3, 4, 6)))
      assert(s.filesRewritten == 4 && s.rowsDeleted == 4, s.toString)
    }
    assert(jobs4 <= jobs1 + 2,
      s"4-day upsert ran $jobs4 jobs vs $jobs1 for 1 day — the rewrite is looping per day")
    // and the values actually landed
    val sink = spark.read.parquet(p4)
    assert(sink.filter(col("value") === 777.0).count() == 4)
    assert(sink.count() == 24, "upsert changed the row count")
  }

  test("tag index: selector query reads a strict subset of the selected days' files") {
    val path = Ingest.eventsByDayTyped(spark, sf0001, root)
    val df = Ingest.eventsTagSelect(spark, sf0001, "click", "2024-01-10", "2024-01-14", 0, 100, root)
    val readFiles = scanListings(df).head.toPartitionArray
      .map(f => new java.io.File(new java.net.URI(f.filePath.toString).getPath).getName).toSet
    val allFiles = (10 to 14).flatMap { dd =>
      new java.io.File(path, f"day=2024-01-$dd%02d").listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.getName)
    }.toSet
    assert(readFiles.nonEmpty && readFiles.subsetOf(allFiles),
      s"selector read outside the selected days: ${readFiles -- allFiles}")
    assert(readFiles.size < allFiles.size,
      s"selector read ALL ${allFiles.size} files — the tag index pruned nothing")

    // index completeness: result ≡ direct filter on the raw table
    val got = df.select("event_id").collect().map(_.getLong(0)).sorted
    val want = Tables.events(spark, sf0001)
      .filter(to_date(col("ts")).between(lit("2024-01-10"), lit("2024-01-14")) &&
        col("event_type") === "click")
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq, s"selector lost/invented rows: got ${got.length} want ${want.length}")
  }

  test("retention tiering: tier boundaries hold and the unified serve ≡ direct aggregation") {
    val (rollupP, rawP) = Ingest.eventsTiered(spark, sf0001, root = root)
    // raw tier: only the tail directories survive the retention drop
    val rawDays = new java.io.File(rawP).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(_.getName.stripPrefix("day="))
    assert(rawDays.nonEmpty && rawDays.forall(_ >= Ingest.tierRawFromDay),
      s"raw tier holds pre-boundary days: ${rawDays.filter(_ < Ingest.tierRawFromDay).mkString(",")}")
    // rollup tier: hours live in [rollupFrom, rawFrom) — both edges aged
    val hb = spark.read.parquet(rollupP)
      .agg(min(col("h")).cast("date").cast("string").as("lo"),
        max(col("h")).cast("date").cast("string").as("hi")).head()
    assert(hb.getString(0) >= Ingest.tierRollupFromDay, s"rollup tier kept dropped history: ${hb.getString(0)}")
    assert(hb.getString(1) < Ingest.tierRawFromDay, s"rollup tier overlaps the raw tail: ${hb.getString(1)}")

    // unified serve: equal to direct aggregation over the visible range,
    // and its raw-side scan touches only tail directories
    val serve = Ingest.eventsTieredServe(spark, sf0001, root = root)
    val scanned = scanListings(serve).flatMap(_.toPartitionArray.map(_.filePath.toString))
    scanned.filter(_.contains("day=")).foreach { f =>
      val day = f.split("day=")(1).take(10)
      assert(day >= Ingest.tierRawFromDay, s"serve scanned a pre-tail raw directory: $f")
    }
    import graft.operators.Num
    val hv = Tables.events(spark, sf0001)
      .filter(to_date(col("ts")) >= lit(Ingest.tierRollupFromDay).cast("date"))
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Num.roundd(sum("value"), 8).as("sv8"))
    val direct = Ingest.caggDailyMerge(hv, hv.limit(0))
    val a = serve.collect().map(_.toSeq)
    val b = direct.collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, s"tiered serve diverged from direct aggregation (${a.length} vs ${b.length} rows)")
  }

  test("versioned table: every snapshot stays readable after later commits; vacuum drops only unreferenced") {
    import spark.implicits._
    import graft.sources.Versioned
    val dir = java.nio.file.Files.createTempDirectory("vtab").toString + "/t"
    Versioned.create(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s").repartition(2))
    Versioned.upsert(spark, dir, "id", Seq((2L, "B"), (9L, "i")).toDF("id", "s"))
    Versioned.delete(spark, dir, "id", Seq(1L))
    assert(Versioned.versions(spark, dir) == Seq(1L, 2L, 3L))
    def snap(v: Long) =
      Versioned.read(spark, dir, v).as[(Long, String)].collect().sortBy(_._1).toSeq
    // MVCC: v1 and v2 byte-identical AFTER the later upsert + delete
    assert(snap(1) == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(snap(2) == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"), (9L, "i")))
    assert(snap(3) == Seq((2L, "B"), (3L, "c"), (4L, "d"), (9L, "i")))
    // a crash between stage and publish leaves an unreferenced file —
    // vacuum must collect it without touching referenced ones
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "files", "deadbeef-crashed.parquet"),
      Array[Byte](1, 2, 3))
    val (droppedFiles, droppedManifests) = Versioned.vacuum(spark, dir, keepLast = 2)
    assert(droppedManifests == 1 && droppedFiles >= 1, s"($droppedFiles, $droppedManifests)")
    assert(Versioned.versions(spark, dir) == Seq(2L, 3L))
    assert(snap(2).size == 5 && snap(3).size == 4, "kept snapshots must survive vacuum")
    intercept[IllegalArgumentException] { Versioned.read(spark, dir, 1L) }
    // one-row-per-id MERGE invariant holds here too
    intercept[IllegalArgumentException] {
      Versioned.upsert(spark, dir, "id", Seq((5L, "x"), (5L, "y")).toDF("id", "s"))
    }
  }

  test("cagg refresh touches ONLY the new-day partitions and is idempotent") {
    val p = Ingest.caggIncremental(spark, sf0001)
    val dayDirs = new java.io.File(p).listFiles().filter(_.getName.startsWith("day=")).map(_.getName).sorted
    assert(dayDirs.length == 30, s"all 30 days present: ${dayDirs.length}")
    val before = spark.read.parquet(p)
      .select("day", "event_type", "cnt", "sv8").collect().toSet
    // plant a sentinel in a COLD partition (underscore-prefixed = invisible
    // to the reader) — a refresh that rewrote history would sweep it away
    val sentinel = java.nio.file.Paths.get(p, "day=2024-01-05", "_sentinel")
    java.nio.file.Files.write(sentinel, Array[Byte](42))
    Ingest.refreshCaggDays(spark, p,
      Ingest.readEventsByDay(spark, Ingest.eventsByDay(spark, sf0001)), "2024-01-26")
    assert(java.nio.file.Files.exists(sentinel),
      "refresh must not rewrite partitions before the cutoff")
    val after = spark.read.parquet(p)
      .select("day", "event_type", "cnt", "sv8").collect().toSet
    assert(after == before, "re-running the refresh must be a no-op on content")
    java.nio.file.Files.delete(sentinel)
  }

  test("ivm join view: refresh leaves history untouched and composes to exactly the full join") {
    val p = sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-test-ivmjoin"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val ev = graft.Tables.events(spark, sf0001)
    Ingest.ivmJoinInitial(spark, p, ev, "2024-01-26")
    // sentinel in the OLDEST cold click-day partition — a refresh that
    // rewrote history would sweep it away
    val coldDay = new java.io.File(p).listFiles()
      .filter(_.getName.startsWith("cday=")).map(_.getName).sorted.head
    val sentinel = java.nio.file.Paths.get(p, coldDay, "_sentinel")
    java.nio.file.Files.write(sentinel, Array[Byte](42))
    Ingest.ivmJoinRefresh(spark, p, ev, "2024-01-26")
    assert(java.nio.file.Files.exists(sentinel),
      "refresh must not rewrite pre-cutoff pair partitions")
    // the maintained pair set equals a from-scratch join of the full table
    val cl = ev.filter(col("event_type") === "click").select(
      col("event_id").as("cid"), col("user_id"), col("ts").as("ct"))
    val pu = ev.filter(col("event_type") === "purchase").select(
      col("event_id").as("pid"), col("user_id"), col("ts").as("pt"))
    val full = cl.join(pu, Seq("user_id"))
      .filter(col("pt") > col("ct") && col("pt") <= col("ct") + expr("INTERVAL '30' MINUTE"))
      .select("cid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = spark.read.parquet(p)
      .select("cid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == full,
      s"maintained view diverges: missing=${(full -- got).take(3)} extra=${(got -- full).take(3)}")
  }

  test("ivm join delete: only candidate cday dirs rewrite; exactly the referencing pairs die") {
    val p = sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-test-ivmdel"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    val ev = graft.Tables.events(spark, sf0001)
    Ingest.ivmJoinInitial(spark, p, ev, "2024-01-26")
    Ingest.ivmJoinRefresh(spark, p, ev, "2024-01-26")
    val before = spark.read.parquet(p)
      .select("cid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // delete one user's purchases from a single day — candidate dirs are
    // at most that day and the previous one; sentinel a day far away
    val dels = ev.filter(col("user_id") === 3 && col("event_type") === "purchase" &&
      to_date(col("ts")) === lit("2024-01-15").cast("date"))
    val delIds = dels.select("event_id").collect().map(_.getLong(0)).toSet
    assume(delIds.nonEmpty, "fixture needs user-3 purchases on 2024-01-15")
    val cold = new java.io.File(p).listFiles().map(_.getName)
      .filter(n => n.startsWith("cday=") && !n.contains("2024-01-15") && !n.contains("2024-01-14"))
      .sorted.head
    val sentinel = java.nio.file.Paths.get(p, cold, "_sentinel")
    java.nio.file.Files.write(sentinel, Array[Byte](42))
    Ingest.ivmJoinDelete(spark, p, dels)
    assert(java.nio.file.Files.exists(sentinel),
      "delete must not touch cday dirs outside the deletes' own 2-day candidates")
    val after = spark.read.parquet(p)
      .select("cid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before.filterNot { case (c, pp) => delIds(c) || delIds(pp) },
      "delete must remove exactly the pairs referencing a deleted event")
  }

  test("schema evolution: mergeSchema surfaces v1 rows with NULL in the added column, v2 fully typed") {
    val path = Ingest.eventsSchemaEvolved(spark, sf0001)
    val df = spark.read.option("mergeSchema", "true").parquet(path)
    assert(df.columns.contains("source_region"), s"merged schema must carry the v2 column: ${df.columns.toSeq}")
    val cut = lit("2024-01-15").cast("date")
    assert(df.filter(to_date(col("ts")) <= cut && col("source_region").isNotNull).count() == 0,
      "v1-generation rows must surface the added column as NULL")
    assert(df.filter(to_date(col("ts")) > cut && col("source_region").isNull).count() == 0,
      "v2-generation rows must all carry the column")
    assert(df.count() == Tables.events(spark, sf0001).count(),
      "evolution must not drop or duplicate rows")
  }

  test("merge-on-read delete: read path hides the ids while data files still contain them") {
    val (pd, pt) = Ingest.morDeleted(spark, sf0001, root)
    val served = Ingest.readMorDocs(spark, pd, pt)
    val servedIds = served.filter(col("doc_id").isin(Ingest.gdprIds: _*)).count()
    assert(servedIds == 0, "the MoR read must hide every tombstoned row")
    // the PROOF that no rewrite happened: the data files still hold the rows
    val rawHits = spark.read.parquet(pd)
      .filter(col("doc_id").isin(Ingest.gdprIds: _*)).count()
    assert(rawHits == Ingest.gdprIds.size.toLong,
      s"data files must be untouched (expected ${Ingest.gdprIds.size} tombstoned rows on disk, got $rawHits)")
    // tombstone side is exactly the forget batch
    val tomb = spark.read.parquet(pt).collect().map(_.getLong(0)).sorted.toSeq
    assert(tomb == Ingest.gdprIds.sorted, s"tombstones must be the forget batch: $tomb")
    // and the read tax is a broadcast anti-join, not a shuffle
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"MoR read must broadcast the tombstones:\n$plan")
  }
}
