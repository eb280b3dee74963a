package graft

import graft.operators.{Dedup, Llm, Num, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Per-operator unit tests over tiny crafted DataFrames (SURVEY.md §5.2):
  * boundary semantics that the fixture data may never hit. */
class OperatorSpec extends SparkSuite {
  import org.apache.spark.sql.DataFrame

  private def sessionize(df: DataFrame): DataFrame = {
    // mirrors TimeSeries.qTsSession's gaps-and-islands core
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts")
    df.withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_s",
        when(col("prev_ts").isNull || expr("ts - prev_ts > INTERVAL '30' MINUTE"), 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(w))
  }

  test("sessionization: exactly-30-min gap stays in the SAME session (> rule, not >=)") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-01-01 10:00:00"),
      (1L, "2024-01-01 10:30:00"),   // gap == 30 min → same session
      (1L, "2024-01-01 11:00:00.000001"), // gap 30min+1µs → NEW session
      (2L, "2024-01-01 09:00:00")
    ).toDF("user_id", "s").withColumn("ts", col("s").cast("timestamp_ntz"))
    val sids = sessionize(df).select("user_id", "sid").as[(Long, Long)].collect().toSeq
    assert(sids.count(_._1 == 1L) == 3)
    assert(sids.filter(_._1 == 1L).map(_._2).sorted == Seq(1L, 1L, 2L))
    assert(sids.filter(_._1 == 2L).map(_._2) == Seq(1L))
  }

  test("cosine: identical vectors → 1.0, orthogonal → 0.0") {
    import spark.implicits._
    val df = Seq(
      (Seq(1f, 0f, 2f), Seq(1f, 0f, 2f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    ).toDF("a", "b").withColumn("sim", Llm.cosine("a", "b"))
    val sims = df.select("sim").as[Double].collect()
    assert(math.abs(sims(0) - 1.0) < 1e-15)
    assert(sims(1) == 0.0)
  }

  test("cosine UDF ≡ cosine HOF bit-for-bit on random-ish vectors") {
    import spark.implicits._
    val vecs = (0 until 50).map { i =>
      ((0 until 16).map(j => ((i * 31 + j * 7) % 13 - 6) / 3.0f),
        (0 until 16).map(j => ((i * 17 + j * 11) % 13 - 6) / 3.0f))
    }
    val df = vecs.toDF("a", "b")
      .withColumn("h", Llm.cosine("a", "b"))
      .withColumn("u", Llm.cosineUdf(col("a"), col("b")))
    assert(df.filter(col("h") =!= col("u")).count() == 0)
  }

  test("roundd matches DuckDB double rounding at the known BigDecimal divergence") {
    import spark.implicits._
    // DuckDB round(47.253749999999996, 4) = 47.2537; BigDecimal HALF_UP gives .2538
    val r = Seq(47.253749999999996, -47.253749999999996, 1512.1199999999994)
      .toDF("x").select(Num.roundd(col("x"), 4).as("r")).as[Double].collect()
    assert(r(0) == 47.2537 && r(1) == -47.2537 && r(2) == 1512.12)
  }

  test("exactDedup keeps min id per duplicate text") {
    import spark.implicits._
    val df = Seq((10L, "aa bb"), (3L, "aa bb"), (7L, "cc")).toDF("id", "text")
    val out = Dedup.exactDedup(df, "text", "id")
      .filter(col("n") > 1).select("keep_id", "n").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((3L, 2L)))
  }

  test("minhash+LSH candidates find exact duplicates; near-dup verify filters") {
    import spark.implicits._
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text), (2L, text), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("dedupCorpus keeps one representative per near-dup cluster, singletons intact") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (5L, base),                 // cluster {5, 2, 9}: 2 exact dupes +
      (2L, base),                 //   one high-Jaccard variant
      (9L, base + " extra"),
      (20L, (100 to 140).map(i => s"x$i").mkString(" ")), // singleton
      (21L, (200 to 240).map(i => s"y$i").mkString(" "))  // singleton
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(df, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(2L, 20L, 21L), s"got $kept")
  }

  test("incremental dedup: corpus/batch/unique hits resolve; persisted index never rescans corpus text") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, base), (2L, (100 to 140).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                                          // dup of corpus doc 1
      (11L, (200 to 240).map(i => s"y$i").mkString(" ")),   // unique
      (12L, (200 to 240).map(i => s"y$i").mkString(" ")),   // dup of earlier batch doc 11
      (13L, "too short")                                    // unshingleable
    ).toDF("doc_id", "text")
    val idx = Dedup.bandSigIndex(
      Dedup.minHashFromText(corpus, "text", numHashes = 8), "doc_id", bands = 4)
    val dir = java.nio.file.Files.createTempDirectory("sigidx").toString
    idx.write.mode("overwrite").parquet(dir)
    val persisted = spark.read.parquet(dir)
    val out = Dedup.incrementalDedup(persisted, batch, "doc_id", "text",
        estThreshold = 0.5, numHashes = 8, bands = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (10L, 1L, 0L, 0L),   // corpus dup → drop
      (11L, 0L, 0L, 1L),   // first writer → keep
      (12L, 0L, 1L, 0L),   // within-batch dup of 11 → drop
      (13L, 0L, 0L, 1L)),  // no signature → keep
      s"got $out")
    // the scale contract: with a persisted index and an in-memory batch,
    // the ONLY file read is the index — corpus text is never rescanned
    val p = Dedup.incrementalDedup(persisted, batch, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).length
    assert(scans > 0 && p.contains("sigidx"), s"index scan expected:\n$p")
    // matches inline-index run exactly
    val inline = Dedup.incrementalDedup(idx, batch, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(inline == out)
  }

  test("graft_shingles kernel ≡ HOF shingler on fixture docs (order included)") {
    val docs = Tables.documents(spark, sf0001)
    val hof = Dedup.withShingles(docs, "text").select("doc_id", "shingles")
    val fast = Dedup.withShinglesFast(docs, "text").select("doc_id", "shingles")
    assert(fast.count() == hof.count())
    assert(fast.except(hof).count() == 0 && hof.except(fast).count() == 0)
  }

  test("graft_minhash kernel ≡ HOF minhash pipeline on fixture docs") {
    val docs = Tables.documents(spark, sf0001)
    val hof = Dedup.minHash(Dedup.withShingles(docs, "text"), numHashes = 8)
      .select("doc_id", "sig")
    val fast = Dedup.minHashFromText(docs, "text", numHashes = 8)
      .select("doc_id", "sig")
    assert(fast.count() == hof.count())
    assert(fast.except(hof).count() == 0 && hof.except(fast).count() == 0)
    // edge: multiple consecutive spaces produce empty tokens in both forms
    import spark.implicits._
    val weird = Seq((1L, "a  b c  d e"), (2L, "x y")).toDF("doc_id", "text")
    val h2 = Dedup.minHash(Dedup.withShingles(weird, "text"), 8).select("doc_id", "sig")
    val f2 = Dedup.minHashFromText(weird, "text", 8).select("doc_id", "sig")
    assert(f2.count() == 1 && h2.count() == 1) // "x y" has < 3 words → dropped
    assert(f2.except(h2).count() == 0 && h2.except(f2).count() == 0)
    // round 15 FastMd5 torture: shingle+prefix lengths that straddle the
    // MD5 padding boundaries (55/56/64/119/120 bytes), multi-byte UTF-8,
    // and trailing spaces — the kernel ≡ the HOF pipeline (Spark's own
    // md5) on every one, and ≡ the MessageDigest reference form
    val torture = Seq(
      (1L, "aaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbbbb ccccccccccccccccc d"), // 53-byte first shingle + "m:" = 55
      (2L, ("a" * 17) + " " + ("b" * 18) + " " + ("c" * 17) + " x"),   // 54 + 2 = 56 exactly
      (3L, ("a" * 20) + " " + ("b" * 20) + " " + ("c" * 20) + " y"),   // 62 + 2 = 64 exactly
      (4L, ("é" * 30) + " " + ("デ" * 15) + " " + ("c" * 11) + " z"),  // multibyte, 118+2
      (5L, ("a" * 40) + " " + ("b" * 40) + " " + ("c" * 36) + " w"),   // 118 + 2 = 120
      (6L, "  a b  "), // leading/trailing/double spaces → empty tokens
      (7L, ("q" * 200) + " r s")).toDF("doc_id", "text")
    val h3 = Dedup.minHash(Dedup.withShingles(torture, "text"), 8).select("doc_id", "sig")
    val f3 = Dedup.minHashFromText(torture, "text", 8).select("doc_id", "sig")
    assert(f3.count() == h3.count())
    assert(f3.except(h3).count() == 0 && h3.except(f3).count() == 0)
    import org.apache.spark.unsafe.types.UTF8String
    torture.collect().foreach { r =>
      val t = UTF8String.fromString(r.getString(1))
      val fast = graft.functions.MinhashKernel.sig(t, 3, 8)
      val ref = graft.functions.MinhashKernel.sigReference(t, 3, 8)
      assert((fast == null) == (ref == null), s"nullability for doc ${r.getLong(0)}")
      if (fast != null)
        assert(fast.toLongArray().toSeq == ref.toLongArray().toSeq,
          s"fast sig diverges from reference on doc ${r.getLong(0)}")
    }
  }

  test("connected components: chain, triangle, isolated pair each get min-id label") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: long path converges within maxIters via propagation") {
    import spark.implicits._
    // path 0-1-2-...-9: worst diameter for min propagation
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.length == 10 && got.forall(_._2 == 0L))
  }

  test("LSH mega-bucket split: chunked expansion yields the exact same candidate pairs") {
    import spark.implicits._
    // 120 identical docs collapse into ONE bucket per band (the
    // boilerplate mega-bucket); 10 distinct docs ride along in small
    // buckets. maxBucket=16 forces the chunk-pair path (8 chunks, 36
    // tiles); the pair set must be bit-identical to unsplit expansion.
    val docs = ((0L until 120L).map(i => (i, "the same boilerplate text repeated everywhere forever")) ++
      (200L until 210L).map(i => (i, s"unique document number $i with its own words ${i * 7}")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashFromText(docs, "text", numHashes = 8)
    val split = Dedup.lshCandidates(sigs, "doc_id", bands = 4, maxBucket = 16)
      .as[(Long, Long)].collect().toSet
    val unsplit = Dedup.lshCandidates(sigs, "doc_id", bands = 4, maxBucket = 1 << 20)
      .as[(Long, Long)].collect().toSet
    assert(split == unsplit, s"split=${split.size} unsplit=${unsplit.size}")
    assert(split.size >= 120 * 119 / 2, "mega-bucket must contribute its full pair set")
    assert(split.forall { case (a, b) => a < b }, "pair order invariant broken")
  }

  test("expandBucketPairs: tiled expansion preserves the pair MULTISET (winnow's count contract)") {
    import spark.implicits._
    // winnow counts shared fingerprints per pair, so — unlike the LSH
    // candidate-set use — cross-bucket duplicate pairs must survive with
    // their multiplicity. Buckets: one mega (40 ids, tiled at
    // maxBucket=7 → 6 chunks), two small overlapping ones, a singleton
    // (no pairs). Naive reference expands each sorted array's triangle.
    val buckets = Seq(
      (0L until 40L).toArray,
      Array(1L, 5L, 9L),
      Array(5L, 9L, 33L),
      Array(7L)).map(_.sorted)
    val df = buckets.zipWithIndex.map { case (ids, i) => (i, ids) }
      .toDF("fp", "ids")
    val got = Dedup.expandBucketPairs(df, maxBucket = 7)
      .groupBy("id_a", "id_b").count()
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    val want = buckets.flatMap { ids =>
      for (i <- ids.indices; j <- (i + 1) until ids.length) yield (ids(i), ids(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want,
      s"multiset diverges: got=${got.size} want=${want.size}; " +
        s"sample=${(want.toSet -- got.toSet).take(3)}")
    assert(got((5L, 9L)) == 3L,
      "cross-bucket duplicate pair (mega + both small buckets) must count 3x")
    assert(got.keys.forall { case (a, b) => a < b })
  }

  test("connected components: identical labels under a reliable checkpoint dir") {
    import spark.implicits._
    // cluster deployments set a reliable checkpoint dir (localCheckpoint
    // blocks die with an executor); the iteration must behave identically
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val sc = spark.sparkContext
    try {
      sc.setCheckpointDir(dir)
      val got = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    } finally {
      // sc has no un-set; route later tests back to executor-local blocks
      sc.setCheckpointDir(null)
    }
  }

  test("BottomK aggregator: k smallest by (key, id), merge-safe across partitions") {
    import spark.implicits._
    val bottom3 = udaf(new graft.functions.BottomK(3))
    val df = (1L to 100L).map(i => (s"g${i % 2}", (i % 10).toDouble, i))
      .toDF("g", "key", "id").repartition(7) // force multi-partition merge
    val got = df.groupBy("g").agg(bottom3(col("key"), col("id")).as("bot"))
      .as[(String, Seq[Long])].collect().toMap
    // g0: even ids; key = id%10 → smallest keys 0 (ids 10,20,..),2(2,12..)
    assert(got("g0") == Seq(10L, 20L, 30L)) // key 0.0, tie → id asc
    assert(got("g1") == Seq(1L, 11L, 21L))  // key 1.0 after 10%10=0? no: odd ids, min key 1.0
  }

  test("simhash: identical docs → hamming 0 via blocking join") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zz yy xx ww")).toDF("doc_id", "text")
    val bits = Dedup.simhashBits(df, "text")
    val rows = bits.select("doc_id", "simhash_bits").as[(Long, Seq[Int])].collect().toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
    // blocking: identical docs collide on all 4 blocks
    val blocks = Dedup.simhashBlocks(bits).select("doc_id", "block_id", "block_val")
      .as[(Long, Int, Long)].collect().groupBy(_._1)
    assert(blocks(1L).map(b => (b._2, b._3)).toSet == blocks(2L).map(b => (b._2, b._3)).toSet)
  }

  test("ANN (srp LSH): identical vector lands in probe bucket; recall vs brute top-1") {
    val emb = Tables.embeddings(spark, sf0001)
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 10).collect()
    assert(brute.length == 10)
    // A vector equal to the probe hashes to the same bucket by construction:
    val bucketOfProbe = emb.filter(col("vec_id") === 0)
      .select(Similarity.srpBucket("embedding", 6)).head().getInt(0)
    val all = emb.withColumn("b", Similarity.srpBucket("embedding", 6))
    assert(all.filter(col("vec_id") === 0).head().getAs[Int]("b") == bucketOfProbe)
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", 0L, 10, nPlanes = 2)
    // 2 planes → 4 buckets → bucket holds ~125 vectors: top-1 must be found
    assert(ann.head().getLong(0) == brute.head.getLong(0))
  }

  test("all-pairs near-dup: triangle block join ≡ naive cross formulation, each pair once") {
    val emb = Tables.embeddings(spark, sf0001)
    // independent naive formulation: full self-join, exact cosine
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val naive = a.join(b, col("ia") < col("ib"))
      .withColumn("sim", Llm.cosineNative(spark, "va", "vb"))
      .filter(col("sim") >= 0.4)
      .select(col("ia").as("id_a"), col("ib").as("id_b"), col("sim"))
    for (blocks <- Seq(3, 8)) { // uneven and even block counts
      val tri = Similarity.allPairsAboveThreshold(emb, "vec_id", "embedding", 0.4, blocks)
      assert(tri.count() == naive.count(), s"blocks=$blocks row count")
      assert(tri.except(naive).count() == 0 && naive.except(tri).count() == 0,
        s"blocks=$blocks pair sets differ")
      // exactly-once: no pair may appear twice (except() would hide dups)
      assert(tri.groupBy("id_a", "id_b").count().filter(col("count") > 1).count() == 0)
    }
    // the plan must be a shuffle join on the block-pair key — no cartesian,
    // no broadcast of the corpus, no driver collect
    val plan = Similarity.allPairsAboveThreshold(emb, "vec_id", "embedding", 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("IVF ANN: returned sims are exact cosines; top-1 found with enough probes") {
    val emb = Tables.embeddings(spark, sf0001)
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, topK = 5, k = 4, nProbe = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(ivf.length == 5)
    // nProbe == k searches everything → must equal exact brute-force top-5
    assert(ivf.map(_._1).toSeq == Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 5)
      .collect().map(_.getLong(0)).toSeq)
    // every returned sim is the true cosine for that id
    ivf.foreach { case (id, s) =>
      assert(brute.get(id).forall(b => math.abs(b - s) < 1e-12)) }
  }

  test("PQ ANN: re-ranked sims are exact cosines; generous shortlist recovers exact top-5") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count().toInt
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, k = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(pq.length == 5)
    // every returned sim is the true cosine for that id (exact re-rank)
    pq.foreach { case (id, s) =>
      val b = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, n)
        .filter(col("vec_id") === id).head().getDouble(1)
      assert(math.abs(b - s) < 1e-12, s"id $id: pq sim $s != exact $b")
    }
    // rerank = corpus searches everything → must equal exact top-5
    val full = Similarity.pqTopK(emb, "vec_id", "embedding", 0L, k = 5, rerank = n)
      .collect().map(_.getLong(0)).toSeq
    assert(full == Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 5)
      .collect().map(_.getLong(0)).toSeq)
    // default shortlist (50 of the corpus) must recall the exact top-1
    assert(pq.map(_._1).contains(
      brute.toSeq.sortBy { case (id, s) => (-s, id) }.head._1),
      s"top-1 not recalled: pq=${pq.map(_._1).toSeq}")
    // compression: codes are numSub ints per vector
    val codes = Similarity.PqModel.build(emb, "vec_id", "embedding").codes
    assert(codes.select(size(col("codes"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(8))
  }

  test("binary-quant cascade: hamming is the sign-bit distance, sims exact, top-1 recalled") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    val got = graft.operators.LlmScale.qEmbBinaryQuant(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 10)
    // reference sign-bit hamming computed independently on the driver
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val pb = vecs(0L).map(x => x >= 0f)
    got.foreach { case (id, ham, sim) =>
      val expect = vecs(id).zip(pb).count { case (x, p) => (x >= 0f) != p }
      assert(ham == expect, s"id $id hamming $ham != $expect")
      // rerank sim is the true cosine (rounded to 6dp by the query)
      val b = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, vecs.size)
        .filter(col("vec_id") === id).head().getDouble(1)
      assert(math.abs(b - sim) <= 5.001e-7, s"id $id sim $sim != exact $b")
    }
    // a 50-wide hamming shortlist over 500 vectors must recall the exact top-1
    val top1 = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 1).head().getLong(0)
    assert(got.map(_._1).contains(top1), s"exact top-1 $top1 not in ${got.map(_._1).toSeq}")
  }

  test("matryoshka two-stage: 32-dim shortlist recalls most exact full-dim top-3") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    val got = graft.operators.LlmScale.qSimMatryoshka(spark, sf0001).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hit = (0L until 10L).map { p =>
      val truth = Similarity.bruteTopK(emb, "vec_id", "embedding", p, 3)
        .collect().map(_.getLong(0)).toSet
      truth.intersect(got(p)).size.toDouble / 3
    }
    val r = hit.sum / hit.size
    assert(r >= 0.75, s"two-stage recall vs exact top-3 fell to $r")
  }

  test("ANN recall floors at fixture scale match the committed ANN_RECALL.md sweep") {
    val emb = Tables.embeddings(spark, sf0001).cache()
    val topk = 10
    val probeIds = 0L until 20L
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    val truths = probeIds.map(p =>
      p -> ids(Similarity.bruteTopK(emb, "vec_id", "embedding", p, topk)).toSet).toMap
    def recall(p: Long, got: Seq[Long]): Double =
      truths(p).intersect(got.toSet).size.toDouble / topk
    def avg(f: Long => Double): Double = probeIds.map(f).sum / probeIds.size

    // IVF(16): sweep measured 0.680 / 0.760 / 0.815 / 0.915 for nProbe
    // 1/2/4/8 — floors leave margin for partial-agg float jitter in the
    // k-means build, monotonicity must hold regardless
    val ivf = Seq(1, 2, 4, 8).map(np => avg(p => recall(p,
      ids(Similarity.ivfTopK(emb, "vec_id", "embedding", p, topk, k = 16, nProbe = np)))))
    assert(ivf(0) >= 0.60 && ivf(1) >= 0.70 && ivf(2) >= 0.75 && ivf(3) >= 0.85,
      s"IVF recall fell below the sweep floors: $ivf")
    assert(ivf == ivf.sorted, s"IVF recall must be monotone in nProbe: $ivf")

    // PQ: sweep measured 0.880 (rerank=100) / 0.955 (rerank=200)
    val pq = Seq(100, 200).map(rr => avg(p => recall(p,
      ids(Similarity.pqTopK(emb, "vec_id", "embedding", p, topk, rerank = rr)))))
    assert(pq(0) >= 0.80 && pq(1) >= 0.90, s"PQ recall fell below the sweep floors: $pq")
    assert(pq(0) <= pq(1), s"PQ recall must be monotone in rerank: $pq")

    // LSH nPlanes=4: multiprobe (0.460 measured) must beat single-bucket
    // (0.125 measured) by the multiprobe factor, floor 0.40
    val single = avg(p => recall(p,
      ids(Similarity.annTopK(emb, "vec_id", "embedding", p, topk, nPlanes = 4))))
    val path = graft.sources.Ingest.embeddingsByBucket(spark, sf0001, nPlanes = 4)
    val probes = emb.filter(col("vec_id") < 20).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).sortBy(_._1).toSeq
    val mp = graft.sources.Ingest.annBatchPruned(spark, path, probes, topk, nPlanes = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSeq).toMap
    val multi = avg(p => recall(p, mp.getOrElse(p, Seq.empty)))
    assert(multi >= 0.40, s"multiprobe LSH recall $multi below the sweep floor")
    assert(multi >= 3 * single, s"multiprobe ($multi) must dominate single-bucket ($single)")
  }

  test("IVF index: assignment is codegen expression (no UDF), build is memoized") {
    val emb = Tables.embeddings(spark, sf0001)
    val (assigned, cents) = Similarity.ivfIndex(emb, "vec_id", "embedding", k = 4, iters = 1)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.contains("graft_nearest_centroid"), plan)
    assert(!plan.contains("UDF") && !plan.contains("ScalaUDF"), plan)
    assert(cents.length == 4 && cents.forall(_.length == 64))
    // memoized: a second build for the same (plan, params) is the same index
    val (assigned2, _) = Similarity.ivfIndex(
      Tables.embeddings(spark, sf0001), "vec_id", "embedding", k = 4, iters = 1)
    assert(assigned2 eq assigned, "expected the cached IvfModel, got a rebuild")
    // another corpus of the same plan shape gets its own index, not this one
    val (other, _) = Similarity.ivfIndex(
      Tables.embeddings(spark, sf001), "vec_id", "embedding", k = 4, iters = 1)
    def vec0(df: org.apache.spark.sql.DataFrame): Seq[Float] =
      df.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    assert(vec0(other) == vec0(Tables.embeddings(spark, sf001)),
      "the sf0.01 corpus was served the sf0.001 index")
    // expression agrees with a driver-side argmax on a sample
    val sample = emb.filter(col("vec_id") < 32).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    val got = assigned.filter(col("vec_id") < 32).select("vec_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (id, cl) =>
      val v = sample(id)
      val na = math.sqrt(v.map(x => x * x).sum)
      val want = cents.indices.maxBy { c =>
        val ct = cents(c)
        val dot = v.zip(ct).map { case (a, b) => a * b }.sum
        val s = dot / (na * math.sqrt(ct.map(x => x * x).sum))
        s // maxBy on Double; ties impossible in this data
      }
      assert(cl == want, s"vec $id: expression=$cl driver=$want")
    }
  }

  test("rolling fingerprint: identical text → identical fingerprints; prefix-shared text overlaps") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq((1L, base), (2L, base), (3L, "completely different content here with other words")).toDF("id", "text")
    val fp = TextAnalysis.rollingFingerprint(df, "text")
      .select("id", "fingerprints").as[(Long, Seq[Long])].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("langId: unambiguous stopwords classify; ties break alphabetically") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat of the house is here"),  // en
      (2L, "der hund und die katze ist"),    // de
      (3L, "xyzzy plugh")                     // no votes → all 0 → tie → 'de'
    ).toDF("id", "text")
    val out = TextAnalysis.langId(df, "text").select("id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "de")
  }

  test("interpolation: chunked carry ≡ global window; lerp edges (lead null, tail locf, cross-day gap)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Interpolate
    // dense hourly axis over 4 days, observations only at scattered hours —
    // including a gap that spans two full days (the cross-chunk stitch path)
    val obs = Map(2 -> 10.0, 5 -> 40.0, 77 -> 4.0, 90 -> 1.0) // hour index -> value
    val df = spark.range(0, 96).toDF("i")
      .withColumn("h", expr("timestamp_ntz '2024-03-01 00:00:00' + make_interval(0,0,0,0,cast(i as int),0,0)"))
      .withColumn("v", coalesce(
        typedLit(obs.map { case (k, v) => (k.toLong, v) }).apply(col("i")), lit(null).cast("double")))
      .select("i", "h", "v")
    // global-window LOCF reference
    val wg = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val globalLocf = df.withColumn("g", last(col("v"), ignoreNulls = true).over(wg))
      .select("i", "g").as[(Long, Option[Double])].collect().toMap
    val chunkedLocf = Interpolate.locf(df, "h", "v", "o")
      .select("i", "o").as[(Long, Option[Double])].collect().toMap
    assert(chunkedLocf == globalLocf)
    val lerp = Interpolate.lerp(df, "h", "v", "o")
      .select("i", "o").as[(Long, Option[Double])].collect().toMap
    assert(lerp(0L).isEmpty && lerp(1L).isEmpty, "leading gap must stay NULL")
    assert(lerp(2L).contains(10.0) && lerp(5L).contains(40.0), "observed hours keep their value")
    assert(lerp(3L).contains(20.0) && lerp(4L).contains(30.0), "in-day lerp")
    // 5 → 77 is a 72-hour gap across 3 chunk boundaries: 40 → 4 linearly
    assert(lerp(41L).contains(40.0 + (4.0 - 40.0) * 36.0 / 72.0), "cross-day lerp")
    assert(lerp(91L).contains(1.0) && lerp(95L).contains(1.0), "trailing gap carries last obs")
  }

  test("gapfill: empty hours present with 0.0 (left join + coalesce shape)") {
    val out = SparkEntry.queries("q_ts_gapfill")(spark, sf0001)
    assert(out.count() == 720) // full dense axis regardless of data coverage
    assert(out.filter(col("sv") === 0.0).count() > 0) // sf0.001 has empty hours
  }

  test("as-of join: every matched ts is <= its cutoff and is the max such event") {
    val out = SparkEntry.queries("q_ts_asof_join")(spark, sf0001)
    val events = Tables.events(spark, sf0001)
    val orders = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 1000 === 0)
      .select(col("o_orderkey").as("ok"), expr("o_orderdate + INTERVAL '10585' DAY").as("cutoff"))
    val joined = out.join(orders, col("o_orderkey") === col("ok"))
    assert(joined.filter(col("ts") > col("cutoff")).count() == 0)
    val better = joined.join(events.select(col("ts").as("ets")), col("ets") <= col("cutoff") && col("ets") > col("ts"))
    assert(better.count() == 0)
  }

  test("repetition: invariants hold and the flag splits the fixture non-trivially") {
    val r = operators.TextAnalysis.repetition(Tables.documents(spark, sf0001), "text")
      .select("n_tok", "distinct_tok", "top_cnt", "ttr", "top_ratio")
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (n, d, t) = (row.getLong(0), row.getLong(1), row.getLong(2))
      assert(d >= 1 && d <= n, s"distinct_tok $d out of [1, $n]")
      // the most frequent token can't appear more often than the slots
      // left after each OTHER distinct token appears at least once
      assert(t >= 1 && t <= n - d + 1, s"top_cnt $t out of [1, ${n - d + 1}]")
      assert(row.getDouble(3) > 0 && row.getDouble(3) <= 1.0)
      assert(row.getDouble(4) > 0 && row.getDouble(4) <= 1.0)
    }
    val flags = operators.LlmScale.qTextRepetition(spark, sf0001)
      .groupBy("repetitive").count().collect()
    assert(flags.length == 2, "threshold must split the fixture non-trivially")
  }

  test("signature-agreement prefilter: 2σ arithmetic and recall safety (round 15)") {
    // the 2σ cut: minAgree = ⌈H·(t − 2·√(t(1−t)/H))⌉, clamped at 0 — a pair
    // EXACTLY at the verify threshold is missed with one-sided probability
    // ≤ ~2.5% (binomial tail beyond 2σ), anything materially above is safe
    assert(Dedup.prefilterMinAgree(0.2, 64) == 7, "gated config: 64·(0.2−0.1) = 6.4 → 7")
    assert(Dedup.prefilterMinAgree(0.2, 32) == 2)
    assert(Dedup.prefilterMinAgree(0.8, 64) == 45, "64·(0.8−0.1) = 44.8 → 45")
    assert(Dedup.prefilterMinAgree(0.8, 32) == 22)
    assert(Dedup.prefilterMinAgree(0.05, 64) == 0, "2σ band crosses zero → screen disabled")
    assert(Dedup.prefilterMinAgree(0.2, 8) == 0, "8-hash estimator too coarse at t=0.2 → disabled")
    // recall safety on the fixture corpus: the prefiltered cascade (the
    // gated shape, estHashes = 64) returns the SAME verified pair set as
    // the unprefiltered one (estHashes = 8 → minAgree 0 → screen off)
    val docs = Tables.documents(spark, sf001)
    def pairSet(eh: Int) = Dedup.nearDupPairs(docs, "doc_id", "text",
        threshold = 0.2, numHashes = 8, bands = 4, estHashes = eh)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val screened = pairSet(64)
    val unscreened = pairSet(8)
    assert(screened == unscreened,
      s"prefilter changed the verified pair set: missing ${unscreened -- screened}, " +
        s"extra ${screened -- unscreened}")
    // ... and the screen actually screens: the exact-Jaccard verify sees
    // materially fewer pairs than the raw band-collision candidate set
    val sigsE = Dedup.minHashFromText(
      docs.select(col("doc_id"), col("text")), "text", numHashes = 64)
    val cands = Dedup.lshCandidates(
      sigsE.withColumn("sig", expr("slice(sig, 1, 8)")), "doc_id", bands = 4)
    val ea = sigsE.select(col("doc_id").as("id_a"), col("sig").as("__ea"))
    val eb = sigsE.select(col("doc_id").as("id_b"), col("sig").as("__eb"))
    val joined = cands.join(ea, "id_a").join(eb, "id_b")
    // the compiled agreement kernel ≡ the interpreted HOF form
    val hofMismatch = joined.filter(
      expr("graft_sig_agree(__ea, __eb) != " +
        "size(filter(sequence(0, 63), i -> element_at(__ea, i+1) = element_at(__eb, i+1)))"))
      .count()
    assert(hofMismatch == 0L, s"graft_sig_agree diverges from the HOF form on $hofMismatch pairs")
    val kept = joined
      .filter(expr(s"graft_sig_agree(__ea, __eb) >= ${Dedup.prefilterMinAgree(0.2, 64)}"))
      .count()
    val nCand = cands.count()
    assert(kept < nCand, s"screen dropped nothing ($kept of $nCand candidates kept)")
    assert(screened.size <= kept, "every verified pair must have survived the screen")
  }

  test("LSH cascade quality floors at fixture scale (DEDUP_QUALITY.md pin)") {
    // the gated cascade's parameters (q_dedup_lsh_verified/_survivors)
    val (threshold, numHashes, bands) = (0.2, 8, 4)
    val docs = Tables.documents(spark, sf001)
    val truth = graft.tools.DedupQuality.bruteTruth(docs, threshold)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain planted near-dup pairs")
    val verified = Dedup.nearDupPairs(docs, "doc_id", "text",
        threshold, numHashes, bands)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // at fixture scale the deterministic sketch catches EVERY true pair
    // and the exact-Jaccard verify admits nothing else: the cascade's
    // pair set ≡ brute-force truth (sweep-measured 25/25 at sf0.01;
    // sub-1.0 recall first appears on the 10× slice — see the artifact)
    assert(verified == truth,
      s"cascade pairs diverge from brute truth: missed ${truth -- verified}, " +
        s"extra ${verified -- truth}")
    // candidate precision floor: the verify stage's useful-work fraction
    // (0.43 measured at sf0.01; a collapse means band buckets are filling
    // with unrelated docs)
    val sigs = Dedup.minHashFromText(
      docs.select(col("doc_id"), col("text")), "text", numHashes)
    val nCand = Dedup.lshCandidates(sigs, "doc_id", bands).count()
    assert(truth.size.toDouble / nCand >= 0.3,
      s"candidate precision ${truth.size.toDouble / nCand} below the 0.3 floor ($nCand candidates)")
    // survivors ≡ truth-derived survivors (cluster representatives kept)
    val survivors = Dedup.dedupCorpus(docs, "doc_id", "text",
      threshold, numHashes, bands).count()
    val truthDrops = Dedup.connectedComponents(
        graft.tools.DedupQuality.bruteTruth(docs, threshold).select("id_a", "id_b"))
      .filter(col("id") =!= col("lbl")).count()
    assert(survivors == docs.count() - truthDrops,
      s"survivor count $survivors != truth-derived ${docs.count() - truthDrops}")
  }
}
