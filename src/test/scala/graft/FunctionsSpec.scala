package graft

import graft.functions.GraftFunctions
import graft.operators.Llm
import org.apache.spark.sql.functions._

/** Native expression registration + equivalence. */
class FunctionsSpec extends SparkSuite {

  test("graft_hist: boundary binning, null skip, and partition-merge invariance") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // lo=0 hi=10 bins=5: v=0→bin1, v=9.999→bin5, v=10→overflow, v=-0.1→underflow
    val vals: Seq[java.lang.Double] =
      Seq(0.0, 9.999, 10.0, -0.1, 2.0, 2.0, null)
    val df = vals.toDF("v").selectExpr("cast(v as double) as v")
    def hist(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.selectExpr("graft_hist(v, 0.0d, 10.0d, 5) as h").as[Seq[Long]].head()
    val h1 = hist(df.coalesce(1))
    val h7 = hist(df.repartition(7)) // forces serialize + merge across partials
    assert(h1 == Seq(1L, 1L, 2L, 0L, 0L, 1L, 1L), s"got $h1")
    assert(h7 == h1, "merge across partitions must equal single-partition result")
  }

  test("graft_lttb: endpoints + exact count, spike survives, small input is identity") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // flat line with one spike at t=500: any downsample that loses the
    // spike failed its one job
    val pts = (0L until 1000L).map(t => (t, if (t == 500) 100.0 else 1.0))
    val df = Seq(("s", pts)).toDF("k", "pts")
      .selectExpr("k", "graft_lttb(array_sort(transform(pts, p -> struct(p._1 as t, p._2 as v))), 20) as keep")
    val kept = df.selectExpr("explode(keep) as p").selectExpr("p.t", "p.v")
      .as[(Long, Double)].collect().toSeq
    assert(kept.length == 20, s"expected exactly 20 points, got ${kept.length}")
    assert(kept.head == (0L, 1.0) && kept.last == (999L, 1.0), "endpoints must be kept")
    assert(kept.map(_._1) == kept.map(_._1).sorted, "output must stay time-ordered")
    assert(kept.contains((500L, 100.0)), s"spike lost: $kept")

    // n_out >= n → identity; n_out <= 2 → endpoints only
    val tiny = Seq(("s", Seq((1L, 1.0), (2L, 5.0), (3L, 2.0)))).toDF("k", "pts")
      .selectExpr("transform(pts, p -> struct(p._1 as t, p._2 as v)) as pts")
    assert(tiny.selectExpr("size(graft_lttb(pts, 10))").head().getInt(0) == 3)
    assert(tiny.selectExpr("transform(graft_lttb(pts, 2), p -> p.t)")
      .head().getSeq[Long](0) == Seq(1L, 3L))
  }

  test("lttbDownsample: per-series counts and endpoint timestamps over real data") {
    val hourly = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
      .agg(sum("value").as("sv"))
    val down = graft.operators.TimeSeries.lttbDownsample(hourly, "event_type", "h", "sv", 48)
    val counts = down.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rawN = hourly.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rawN.foreach { case (k, n) =>
      assert(counts(k) == math.min(48L, n), s"$k: ${counts(k)} of raw $n")
    }
    // endpoints are the series' true first/last hours
    val firstLast = hourly.groupBy("event_type").agg(min("h").as("mn"), max("h").as("mx"))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    down.groupBy("event_type").agg(min("h").as("mn"), max("h").as("mx"))
      .collect().foreach { r =>
        assert((r.get(1), r.get(2)) == firstLast(r.getString(0)),
          s"${r.getString(0)}: endpoints moved")
      }
  }

  test("chunked lttbDownsample: chunks=1 is exact, chunked output keeps counts/endpoints/membership") {
    import graft.operators.TimeSeries
    val hourly = Tables.events(spark, sf0001)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"))
      .agg(sum("value").as("sv"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.get(1).toString, r.getDouble(2))).toSet

    // chunks=1 degenerates to the exact sequential algorithm
    val exact = rows(TimeSeries.lttbDownsample(hourly, "event_type", "h", "sv", 48))
    val one = rows(TimeSeries.lttbDownsampleChunked(hourly, "event_type", "h", "sv", 48, chunks = 1))
    assert(one == exact, "chunks=1 must equal the unchunked algorithm")

    // chunked: per-series counts, true endpoints, and point membership hold
    val chunked = TimeSeries.lttbDownsampleChunked(hourly, "event_type", "h", "sv", 48, chunks = 4)
    val counts = chunked.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rawN = hourly.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rawN.foreach { case (k, n) =>
      assert(counts(k) == math.min(48L, n), s"$k: ${counts(k)} of raw $n") }
    val firstLast = hourly.groupBy("event_type").agg(min("h").as("mn"), max("h").as("mx"))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    chunked.groupBy("event_type").agg(min("h").as("mn"), max("h").as("mx"))
      .collect().foreach { r =>
        assert((r.get(1), r.get(2)) == firstLast(r.getString(0)),
          s"${r.getString(0)}: endpoints moved under chunking") }
    // every selected point is a real input point (selection, not synthesis)
    val raw = rows(hourly.select(col("event_type"), col("h"), col("sv").cast("double")))
    assert(rows(chunked).subsetOf(raw), "chunked selection produced non-input points")
  }

  test("graft_cosine resolves in SQL after registration and matches HOF bit-for-bit") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb_fn_test")
    // resolves through the SQL parser/analyzer path
    assert(spark.sql(
      "SELECT graft_cosine(a.embedding, b.embedding) s FROM emb_fn_test a " +
        "JOIN emb_fn_test b ON b.vec_id = 0 WHERE a.vec_id < 50").count() == 50)
    // compare native vs HOF vs UDF on the same pairs
    val e = Tables.embeddings(spark, sf0001)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
    val both = e.filter(col("vec_id") < 50).crossJoin(broadcast(probe))
      .withColumn("s_native", expr("graft_cosine(embedding, pv)"))
      .withColumn("s_hof", Llm.cosine("embedding", "pv"))
      .withColumn("s_udf", Llm.cosineUdf(col("embedding"), col("pv")))
    assert(both.filter(col("s_native") =!= col("s_hof")).count() == 0)
    assert(both.filter(col("s_native") =!= col("s_udf")).count() == 0)
  }

  test("graft_cosine survives both codegen and interpreted paths") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf0001).limit(20)
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
    def run() = e.crossJoin(broadcast(probe))
      .select(expr("graft_cosine(embedding, pv)").as("s")).collect().map(_.getDouble(0)).toSeq
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted = try run() finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(withCodegen == interpreted)
  }

  test("graft_cosine null/arity behavior") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Some(Seq(1f, 0f)), Option.empty[Seq[Float]])).toDF("a", "b")
    assert(df.select(expr("graft_cosine(a, b)")).head().isNullAt(0))
    val err = intercept[Exception](spark.sql("SELECT graft_cosine(array(1.0f))").collect())
    assert(err.getMessage.toLowerCase.contains("argument"))
  }

  test("graft_dot_long equals the zip_with fold; exact at int8-quant magnitudes") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Seq(127L, -127L, 3L), Seq(127L, 127L, -2L)))
      .toDF("a", "b")
    val native = df.selectExpr("graft_dot_long(a, b)").as[Long].head()
    val hof = df
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
      .as[Long].head()
    assert(native == 127L * 127 - 127L * 127 - 6 && native == hof)
    // empty arrays dot to 0; null input nulls out
    assert(spark.sql(
      "SELECT graft_dot_long(CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>)) d")
      .as[Long].head() == 0L)
    assert(spark.sql("SELECT graft_dot_long(CAST(NULL AS ARRAY<BIGINT>), array(1L)) d")
      .head().isNullAt(0))
  }

  test("graft_time_slices: boundary split, alignment, zero-duration, null explode semantics") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // 14:50-15:20 across the 15:00 boundary: 10 min + 20 min, buckets aligned
    val h = 3600000000L
    val t1450 = 53 * h + 50 * 60000000L
    val rows = spark.sql(
      s"SELECT graft_time_slices(${t1450}L, ${t1450 + 30 * 60000000L}L, ${h}L)")
      .as[(Long, Long)].collect().toSeq
    assert(rows == Seq((53 * h, 10 * 60000000L), (54 * h, 20 * 60000000L)), s"got $rows")
    // inside one bucket: single row, full duration
    assert(spark.sql(s"SELECT graft_time_slices(100L, 200L, ${h}L)")
      .as[(Long, Long)].collect().toSeq == Seq((0L, 100L)))
    // zero-duration: presence row with 0 overlap in its containing bucket
    assert(spark.sql(s"SELECT graft_time_slices(${h + 5}L, ${h + 5}L, ${h}L)")
      .as[(Long, Long)].collect().toSeq == Seq((h, 0L)))
    // null start: generator emits no rows (explode semantics)
    assert(spark.sql(s"SELECT graft_time_slices(CAST(NULL AS BIGINT), 10L, ${h}L)").count() == 0)
    // sliced overlaps always re-sum to the interval length
    val tot = spark.sql(s"SELECT graft_time_slices(123456L, 9876543L, 1000000L)")
      .as[(Long, Long)].collect().map(_._2).sum
    assert(tot == 9876543L - 123456L)
  }

  test("graft_topk: bounded top-k aggregate — order, ties, nulls, partition-merge invariance") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // (group, score, weight, id): group 1 exercises score ties broken by
    // weight then id; group 2 has fewer than k rows; null rows skip
    val rows: Seq[(Long, java.lang.Double, java.lang.Long, java.lang.Long)] = Seq(
      (1L, 0.9, 5L, 10L), (1L, 0.9, 5L, 7L), (1L, 0.9, 9L, 30L),
      (1L, 0.5, 1L, 1L), (1L, 0.95, 1L, 99L), (1L, 0.1, 50L, 2L),
      (1L, null, 1L, 3L),
      (2L, 0.3, 1L, 4L), (2L, 0.2, 2L, 5L))
    def topk(parts: Int) =
      rows.toDF("g", "s", "w", "i").repartition(parts)
        .selectExpr("g", "cast(s as double) s", "cast(w as bigint) w", "cast(i as bigint) i")
        .groupBy("g")
        .agg(expr("graft_topk(s, w, i, 3)").as("t"))
        .select(col("g"), expr("transform(t, x -> struct(x.score, x.weight, x.id))").as("t"))
        .as[(Long, Seq[(Double, Long, Long)])].collect().toMap
    val one = topk(1)
    assert(one(1L) == Seq((0.95, 1L, 99L), (0.9, 9L, 30L), (0.9, 5L, 7L)),
      s"got ${one(1L)}") // tie at 0.9: weight 9 first, then id 7 < 10
    assert(one(2L) == Seq((0.3, 1L, 4L), (0.2, 2L, 5L)))
    assert(topk(7) == one, "merge across partitions must equal single-partition result")
  }

  test("graft_boot_sums ≡ exploded replicate weights (operand-identical u and CDF cuts)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // fixed congruential h1/h2 spanning the u range, plus a null row
    val rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)] =
      (0 until 200).map { i =>
        (java.lang.Long.valueOf((i * 982451653L) % (1L << 60)),
         java.lang.Long.valueOf((i * 29996224275833L) % 1000003L),
         java.lang.Long.valueOf((i * 37 % 5000).toLong))
      } :+ ((null, 1L, 2L))
    val df = rows.toDF("h1", "h2", "cents")
    val got = df.repartition(5)
      .agg(expr("graft_boot_sums(h1, h2, cents, 8)").as("bs"))
      .select(posexplode(col("bs")))
      .select(col("pos").cast("long").as("b"), col("col.swx"), col("col.sw"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val want = df.filter(col("h1").isNotNull)
      .withColumn("b", explode(expr("sequence(0L, 7L)")))
      .withColumn("u", expr("(pmod(h1 + b * h2, 1000000) + 0.5) / 1000000.0"))
      .withColumn("w", when(col("u") < 0.367879, 0L).when(col("u") < 0.735759, 1L)
        .when(col("u") < 0.919699, 2L).when(col("u") < 0.981012, 3L)
        .when(col("u") < 0.996340, 4L).when(col("u") < 0.999406, 5L).otherwise(6L))
      .groupBy("b").agg(sum(col("w") * col("cents")).as("swx"), sum("w").as("sw"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want, s"boot sums diverge: got $got want $want")
  }

  test("graft_boot_sums: out-of-range h1/h2 fail loudly (ADVICE r16 — Java % vs pmod)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // negative or huge hashes would silently diverge from the declarative
    // pmod form (and overflow errors under ANSI) — the kernel refuses them
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    for (bad <- Seq((-5L, 7L, 100L), (5L, -7L, 100L), (Long.MaxValue - 3L, 1L, 1L))) {
      val e = intercept[Exception] {
        Seq(bad).toDF("h1", "h2", "cents")
          .agg(expr("graft_boot_sums(h1, h2, cents, 4)")).collect()
      }
      assert(messages(e).exists(_.contains("overflow-free pmod range")),
        s"expected the range require for $bad, got: ${messages(e)}")
    }
  }

  test("graft_h60 ≡ the declarative conv(substr(md5)) chain on boundary and multibyte inputs") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // md5 padding boundaries (55/56/63/64/119/120 bytes), empties,
    // multibyte UTF-8, and a null — the kernel must match the declarative
    // chain bit for bit everywhere the engine hashes
    val cases: Seq[String] = Seq(
      "", "a", "abc", "héllo wörld 😀", "?:?", "sd:one two three",
      "x" * 55, "x" * 56, "x" * 57, "x" * 63, "x" * 64, "x" * 65,
      "x" * 119, "x" * 120, "x" * 121, "é" * 40, null)
    val df = cases.toDF("s")
      .selectExpr("s", "graft_h60(s) fast",
        "cast(conv(substr(md5(s), 1, 15), 16, 10) as bigint) slow")
      .as[(String, java.lang.Long, java.lang.Long)].collect()
    df.foreach { case (s, fast, slow) =>
      assert(fast == slow, s"graft_h60 mismatch on ${Option(s).map(_.take(20))}: $fast vs $slow")
    }
    assert(df.count(_._2 == null) == 1, "null input must stay null")
  }

  test("graft_doc_grams ≡ per-doc rollup of the declarative gram explode (split/join parity)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // repeated grams (cnt > 1), a double space (empty word — split/join
    // byte parity), a too-short doc, a null, and multibyte words
    val docs: Seq[(Long, String)] = Seq(
      (1L, "a b c d e f g h i a b c d e f g h i"),
      (2L, "one two  three four five six seven eight nine"),
      (3L, "too short"), (4L, null), (5L, "é ü ö 😀 x y z w q r s"),
      // all-empty words (8 spaces = 9 empty words) and boundary spaces:
      // the hardest split/join byte-parity cases
      (6L, "        "), (7L, " lead mid  two x y z trail "))
    val df = docs.toDF("doc_id", "text")
    val got = df.select(col("doc_id"), expr("graft_doc_grams(text, 8, 'sd')"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val want = df
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("tk"))
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk) - 7), i -> " +
          "graft_h60(concat('sd', ':', array_join(slice(tk, i, 8), ' '))))")).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want,
      s"doc_grams diverges: got ${got.take(3)}… want ${want.take(3)}…")
    assert(got.map(_._1).distinct.sorted == Seq(1L, 2L, 5L, 6L, 7L),
      "short and null docs must emit nothing; space-heavy docs must")
    assert(got.exists(_._3 > 1L), "repeated grams must carry in-doc counts")
  }

  test("graft_sessionize ≡ the declarative gap+cap fold (gap break, cap break, ties, singletons)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val M = 60000000L // 1 min in µs
    val GAP = 1800000000L
    val CAP = 7200000000L
    // user 1: one long run that the CAP must split; user 2: gap breaks;
    // user 3: singleton; user 4: tied timestamps; user 5: event at
    // exactly gap/cap boundaries (<=, not <)
    val rows: Seq[(Long, Long, Long)] = Seq(
      (1L to 180L).map(i => (1L, i * M, 1000L + i)),        // every minute for 3 h
      Seq((2L, 0L, 1L), (2L, 1700L * 1000000L, 2L),          // inside gap
        (2L, 3600L * 1000000L, 3L),                          // > gap after prev
        (2L, 3600L * 1000000L + 1L, 4L)),
      Seq((3L, 42L, 5L)),
      Seq((4L, 100L, 6L), (4L, 100L, 7L), (4L, 100L, 8L)),
      Seq((5L, 0L, 9L), (5L, GAP, 10L), (5L, GAP + GAP, 11L), // exactly gap apart
        (5L, GAP + GAP + GAP + GAP, 12L))                     // > gap
    ).flatten
    val df = rows.toDF("user_id", "tus", "event_id")
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("tus"), col("event_id")))).as("es"))
    val got = df.select(col("user_id"), expr(s"graft_sessionize(es, ${GAP}L, ${CAP}L)"))
      .select("user_id", "sst", "n_events", "dur_s")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want = df.withColumn("assigned", expr(
        s"""aggregate(es,
           |  named_struct('ss', -1L, 'prev', -1L,
           |    'out', cast(array() as array<struct<tus:bigint,sst:bigint>>)),
           |  (a, x) -> if(a.prev < 0L OR x.tus - a.prev > ${GAP}L OR x.tus - a.ss > ${CAP}L,
           |    named_struct('ss', x.tus, 'prev', x.tus,
           |      'out', concat(a.out, array(named_struct('tus', x.tus, 'sst', x.tus)))),
           |    named_struct('ss', a.ss, 'prev', x.tus,
           |      'out', concat(a.out, array(named_struct('tus', x.tus, 'sst', a.ss))))),
           |  a -> a.out)""".stripMargin))
      .select(col("user_id"), explode(col("assigned")).as("e"))
      .groupBy(col("user_id"), col("e.sst").as("sst"))
      .agg(count(lit(1)).as("n_events"),
        expr("(max(e.tus) - min(e.tus)) div 1000000L").as("dur_s"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want,
      s"sessionize kernel diverges: got ${got.take(4)}… want ${want.take(4)}…")
    assert(got.count(_._1 == 1L) > 1, "the cap must split user 1's continuous run")
  }

  test("graft_rate_limit ≡ the declarative token-bucket fold (burst, refill, exact-credit edge)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val C = 14400000000L   // 2 tokens × 2 h of credit, µs
    val COST = 7200000000L // 1 token
    val H = 3600000000L    // 1 h
    val rows: Seq[(Long, Long, Long)] = Seq(
      // user 1: burst of 5 at t=0 — 2 admitted, 3 rejected; then a refill
      // exactly COST later admits exactly one more
      Seq((1L, 0L, 1L), (1L, 0L, 2L), (1L, 0L, 3L), (1L, 0L, 4L), (1L, 0L, 5L),
        (1L, COST, 6L), (1L, COST, 7L)),
      // user 2: spaced ≥ 2 h apart — all admitted (credit caps at C)
      (0L to 5L).map(i => (2L, i * (COST + H), 100L + i)),
      // user 3: singleton
      Seq((3L, 42L, 9L)),
      // user 4: credit lands exactly AT cost (>= admits, not >)
      Seq((4L, 0L, 10L), (4L, 1L, 11L), (4L, 1L + COST - 1L, 12L))
    ).flatten
    val df = rows.toDF("user_id", "tus", "event_id")
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("tus"), col("event_id")))).as("es"))
    val got = df.select(col("user_id"),
        expr(s"graft_rate_limit(es, ${C}L, ${COST}L)").as("r"))
      .select(col("user_id"), col("r.adm"), col("r.rej"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val want = df.withColumn("r", expr(
        s"""aggregate(es,
           |  named_struct('cr', ${C}L, 'last', -1L, 'adm', 0L, 'rej', 0L),
           |  (a, x) -> if(least(${C}L, a.cr + if(a.last < 0L, 0L, x.tus - a.last)) >= ${COST}L,
           |    named_struct('cr', least(${C}L, a.cr + if(a.last < 0L, 0L, x.tus - a.last)) - ${COST}L,
           |      'last', x.tus, 'adm', a.adm + 1L, 'rej', a.rej),
           |    named_struct('cr', least(${C}L, a.cr + if(a.last < 0L, 0L, x.tus - a.last)),
           |      'last', x.tus, 'adm', a.adm, 'rej', a.rej + 1L)))""".stripMargin))
      .select(col("user_id"), col("r.adm"), col("r.rej"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want,
      s"rate_limit kernel diverges: got $got want $want")
    assert(got.find(_._1 == 1L).exists(r => r._2 == 3L && r._3 == 4L),
      "user 1: burst must admit 2, reject 3; one refill admits 1 of 2")
    assert(got.find(_._1 == 4L).exists(r => r._2 == 3L && r._3 == 0L),
      "user 4: credit exactly equal to cost must admit")
  }

  test("graft_pack_bins ≡ the declarative greedy fold (oversized docs, exact fits, resets)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val C = 1024L
    val rows: Seq[(String, Long, Long)] = Seq(
      // exact fill boundary: 512 + 512 fits, next 1 opens a bin
      ("a", 1L, 512L), ("a", 2L, 512L), ("a", 3L, 1L),
      // oversized doc between small ones
      ("b", 1L, 100L), ("b", 2L, 5000L), ("b", 3L, 100L), ("b", 4L, 900L), ("b", 5L, 25L),
      // oversized FIRST doc
      ("c", 1L, 99999L), ("c", 2L, 1L),
      // singleton shard
      ("d", 7L, 10L))
    val df = rows.toDF("lang", "doc_id", "tok")
      .groupBy("lang")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tok")))).as("ds"))
    val got = df.select(col("lang"), expr(s"graft_pack_bins(ds, ${C}L)"))
      .select("lang", "bin", "n_docs", "tokens")
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    val want = df.withColumn("packed", expr(
        s"""aggregate(ds,
           |  named_struct('bin', 0L, 'fill', 0L,
           |               'out', cast(array() as array<struct<doc_id:bigint,tok:bigint,bin:bigint>>)),
           |  (acc, x) -> if(acc.fill + x.tok <= ${C}L AND acc.fill > 0L,
           |    named_struct('bin', acc.bin, 'fill', acc.fill + x.tok,
           |      'out', concat(acc.out, array(named_struct('doc_id', x.doc_id, 'tok', x.tok, 'bin', acc.bin)))),
           |    named_struct('bin', if(acc.fill > 0L, acc.bin + 1L, acc.bin), 'fill', x.tok,
           |      'out', concat(acc.out, array(named_struct('doc_id', x.doc_id, 'tok', x.tok,
           |        'bin', if(acc.fill > 0L, acc.bin + 1L, acc.bin)))))),
           |  acc -> acc.out)""".stripMargin))
      .select(col("lang"), explode(col("packed")).as("p"))
      .groupBy(col("lang"), col("p.bin").as("bin"))
      .agg(count(lit(1)).as("n_docs"), sum("p.tok").as("tokens"))
      .as[(String, Long, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want,
      s"pack_bins kernel diverges: got ${got.take(4)}… want ${want.take(4)}…")
    assert(got.count(_._1 == "b") >= 3, "the oversized doc must break shard b into bins")
  }

  test("graft_rate_limit, graft_sessionize and graft_pack_bins reject a column or null parameter at analysis") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((1L, 10L, 2L)).toDF("k", "a", "b")
      .groupBy("k").agg(collect_list(struct(col("a"), col("b"))).as("es"), max("a").as("c"))
    val nul = "cast(null as bigint)"
    val calls = Seq(
      s"graft_rate_limit(es, c, 5L)" -> "cap must be a literal",
      s"graft_rate_limit(es, 5L, $nul)" -> "cost must not be null",
      s"graft_sessionize(es, 5L, c)" -> "cap must be a literal",
      s"graft_sessionize(es, $nul, 5L)" -> "gap must not be null",
      s"graft_pack_bins(es, c)" -> "C must be a literal",
      s"graft_pack_bins(es, $nul)" -> "C must not be null")
    calls.foreach { case (call, why) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(expr(call)))
      assert(e.getMessage.contains(why), s"$call: ${e.getMessage}")
    }
  }

  test("graft_gram ≡ the posexplode self-join Gram (negatives, nulls, empty input)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rows: Seq[(Long, Seq[Long])] = Seq(
      (1L, Seq(3L, -2L, 7L)),
      (2L, Seq(-5L, 0L, 11L)),
      (3L, Seq(1000000L, -999999L, 123456L)),
      (4L, null))
    val df = rows.toDF("vec_id", "m")
    val got = df.select(expr("graft_gram(m)")).as[Seq[Long]].head()
    val e = df.filter(col("m").isNotNull)
      .select(col("vec_id"), posexplode(col("m")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("i"), col("col").as("mi"))
    val want = e.join(e.select(col("vec_id"), col("i").as("j"), col("mi").as("mj")), "vec_id")
      .groupBy("i", "j").agg(sum(col("mi") * col("mj")).as("sij"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val dim = 3
    assert(got.length == dim * dim)
    for (i <- 1 to dim; j <- 1 to dim)
      assert(got((i - 1) * dim + (j - 1)) == want((i, j)),
        s"gram($i,$j) diverges: ${got((i - 1) * dim + (j - 1))} vs ${want((i, j))}")
    val empty = df.filter(col("vec_id") < 0L).select(expr("graft_gram(m)"))
      .as[Seq[Long]].head()
    assert(empty.isEmpty, "empty input must yield an empty array")
    val nullOnly = df.filter(col("vec_id") === 4L).select(expr("graft_gram(m)"))
      .as[Seq[Long]].head()
    assert(nullOnly.isEmpty, "all-null input must yield an empty array")
  }

  test("graft_arr_pairs ≡ the triangle HOF pair multiset (order-free consumers)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rows: Seq[Seq[Long]] = Seq(
      Seq(1L, 2L, 3L, 4L), Seq(7L, 9L), Seq(5L), Seq(),
      Seq(3L, 3L, 8L),            // duplicates stay a multiset
      (1L to 40L))
    val df = rows.toDF("ids")
    val got = df.select(expr("graft_arr_pairs(ids)"))
      .as[(Long, Long)].collect().toSeq.sorted
    val want = df.filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(ids) - 1), j -> " +
          "transform(slice(ids, 1, j), a -> struct(a AS id_a, element_at(ids, j + 1) AS id_b))))")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want,
      s"pair generator diverges: got ${got.take(5)}… want ${want.take(5)}…")
  }

  test("graft_winnow ≡ the declarative h60-gram window-min chain (multi-space, unicode, short docs)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // empties are FILTERED before gram assembly (withTokens semantics —
    // unlike graft_doc_grams, which keeps them), grams join tokens with
    // single spaces, window-min w=4 over the n=3 gram hash sequence,
    // distinct per doc; docs under 6 non-empty tokens emit nothing
    val docs: Seq[(Long, String)] = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a  b   c d  e f"),           // runs of spaces collapse
      (3L, "á β 😀 δ e ζ η"),            // multibyte tokens
      (4L, "a b c d e"),                 // 5 tokens → nothing
      (5L, ""), (6L, "   "),             // empty → nothing
      (7L, "x x x x x x x x x x"),       // all-equal grams → one fp
      (8L, "the quick brown fox jumps over the lazy dog again and again"))
    val df = docs.toDF("doc_id", "text")
    df.createOrReplaceTempView("winnow_fixture")
    val got = spark.sql(
      "SELECT doc_id, fp FROM winnow_fixture " +
        "LATERAL VIEW graft_winnow(text, 3, 4, 'wn') AS fp")
      .as[(Long, Long)].collect().toSeq.sorted
    val want = df
      .withColumn("tk", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("tk")) >= 6)
      .withColumn("h", expr(
        "transform(sequence(1, size(tk)-2), i -> graft_h60(concat('wn', ':', " +
          "concat(element_at(tk,i), ' ', element_at(tk,i+1), ' ', element_at(tk,i+2)))))"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(h)-3), i -> array_min(slice(h, i, 4))))"))
        .as("fp"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want,
      s"winnow kernel diverges: got ${got.take(5)}… want ${want.take(5)}…")
    assert(!got.map(_._1).contains(4L) && !got.map(_._1).contains(5L),
      "short/empty docs must emit nothing")
  }

  test("graft_range_topk: interval offers — clipping, ties, empty intervals, merge invariance") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // slots=6, k=2; intervals clip to [0, 5], (cnt desc, id asc) per slot,
    // an empty interval (lo > hi) and a null row contribute nothing
    val rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long, java.lang.Long)] = Seq(
      (0L, 3L, 5L, 1L), (2L, 4L, 5L, 2L), (1L, 1L, 9L, 3L),
      (-2L, 0L, 7L, 4L), (5L, 9L, 2L, 5L), (4L, 3L, 8L, 6L),
      (null, 2L, 1L, 7L))
    def run(parts: Int) =
      rows.toDF("lo", "hi", "c", "i").repartition(parts)
        .agg(expr("graft_range_topk(lo, hi, c, i, 2, 6)").as("t"))
        .select(explode(col("t")).as("e"))
        .select(col("e.wi"), col("e.rk"), col("e.id"), col("e.cnt"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val one = run(1)
    assert(one == Seq(
      (0L, 1L, 4L, 7L), (0L, 2L, 1L, 5L),
      (1L, 1L, 3L, 9L), (1L, 2L, 1L, 5L),
      (2L, 1L, 1L, 5L), (2L, 2L, 2L, 5L),
      (3L, 1L, 1L, 5L), (3L, 2L, 2L, 5L),
      (4L, 1L, 2L, 5L),
      (5L, 1L, 5L, 2L)), s"got $one")
    assert(run(7) == one, "merge across partitions must equal single-partition result")
  }

  test("graft_range_topk: the slots*k state bound fails loudly, not with an OOM") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((0L, 1L, 2L, 3L)).toDF("lo", "hi", "c", "i")
    val e = intercept[Exception] {
      df.agg(expr("graft_range_topk(lo, hi, c, i, 1000, 100000)")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("state bound")),
      s"expected the 2^22-entry bound message, got: ${messages(e)}")
  }

  test("graft_range_topk: bounds beyond Int range clamp instead of wrapping (ADVICE r16)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // lo in [2^31, 2^32) used to narrow to a NEGATIVE Int slot and crash
    // with ArrayIndexOutOfBoundsException; lo/hi past the grid contribute
    // nothing, a huge hi on an in-grid lo clips to the grid end
    val rows = Seq(
      (Int.MaxValue.toLong + 7L, Long.MaxValue, 9L, 1L), // fully out of grid
      (4L, Long.MaxValue, 5L, 2L),                       // clips to [4, 5]
      (Long.MinValue, 2L, 3L, 3L))                       // clips to [0, 2]
    val got = rows.toDF("lo", "hi", "c", "i")
      .agg(expr("graft_range_topk(lo, hi, c, i, 2, 6)").as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.wi"), col("e.rk"), col("e.id"), col("e.cnt"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == Seq(
      (0L, 1L, 3L, 3L), (1L, 1L, 3L, 3L), (2L, 1L, 3L, 3L),
      (4L, 1L, 2L, 5L), (5L, 1L, 2L, 5L)), s"got $got")
  }

  test("graft_range_topk ≡ explode(sequence) + grouped graft_topk on a deterministic workload") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // 500 intervals from a fixed congruence (ids unique, some out-of-grid,
    // some empty): the interval-offer aggregate must equal the row-per-slot
    // explode it replaces, slot for slot, rank for rank
    val slots = 40
    val rows = (0 until 500).map { i =>
      val lo = (i * 37 % 50) - 5L
      (lo, lo + (i * 13 % 9) - 1L, (i * 7 % 20) + 1L, i.toLong)
    }
    val df = rows.toDF("lo", "hi", "c", "i")
    val got = df.repartition(7)
      .agg(expr(s"graft_range_topk(lo, hi, c, i, 3, $slots)").as("t"))
      .select(explode(col("t")).as("e"))
      .select(col("e.wi"), col("e.rk"), col("e.id"), col("e.cnt"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want = df
      // keep only grid-intersecting intervals, else the clipped sequence
      // would run DESCENDING and fabricate slots
      .filter(col("lo") <= col("hi") && col("hi") >= 0 && col("lo") <= (slots - 1))
      .select(explode(expr(s"sequence(greatest(lo, 0L), least(hi, ${slots - 1}L))")).as("wi"),
        col("c"), col("i"))
      .groupBy("wi")
      .agg(expr("graft_topk(cast(c as double), c, i, 3)").as("t"))
      .select(col("wi"), posexplode(col("t")))
      .select(col("wi"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id"), col("col.weight"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(want.nonEmpty && got == want,
      s"range form diverges from explode form: got ${got.take(5)}… want ${want.take(5)}…")
  }

  test("Num.roundd preserves the IEEE sign bit on zero, like DuckDB's copysign round") {
    import graft.operators.Num
    import spark.implicits._
    // (raw, expected-bits-of-roundd(raw, 4)): -0.0 and 0/-x must stay -0.0;
    // +0.0 stays +0.0; tiny negatives round to -0.0 (copysign semantics);
    // ordinary values keep half-up magnitude rounding.
    val negZero = 0.0 / -3.0 // = -0.0 the way q_sre_root_cause produced it
    val rows = Seq(-0.0, negZero, 0.0, -1e-9, 1e-9, 1.23456, -1.23456, 2.5e-4)
      .toDF("v")
      .select(Num.roundd(col("v"), 4).as("r"))
      .as[Double].collect()
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(bits(rows(0)) == bits(-0.0), s"round(-0.0) lost sign: ${rows(0)}")
    assert(bits(rows(1)) == bits(-0.0), s"round(0/-3) lost sign: ${rows(1)}")
    assert(bits(rows(2)) == bits(0.0), s"round(+0.0) gained sign: ${rows(2)}")
    assert(bits(rows(3)) == bits(-0.0), s"round(-1e-9) must be -0.0: ${rows(3)}")
    assert(bits(rows(4)) == bits(0.0))
    assert(rows(5) == 1.2346 && rows(6) == -1.2346, s"half-up magnitude broke: ${rows(5)}, ${rows(6)}")
    assert(rows(7) == 3.0e-4, s"0.00025 must round half-up to 0.0003: ${rows(7)}")
    // NULL passes through
    val n = Seq[java.lang.Double](null).toDF("v").select(Num.roundd(col("v"), 2)).collect()(0)
    assert(n.isNullAt(0))
  }
}
