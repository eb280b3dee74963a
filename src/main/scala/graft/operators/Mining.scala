package graft.operators

import graft.Catalog.{Entry, Q}
import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-mining tier over the documents/embeddings tables — the
  * text-statistics and fingerprinting operators a training-data
  * pipeline runs between ingest and dedup: corpus-level bigram
  * vocabularies (phrase mining / tokenizer-merge candidates),
  * winnowing fingerprints (Schleimer et al. 2003's local algorithm —
  * the plagiarism-detection complement to MinHash: guarantees any
  * shared run of ≥ t+w-1 tokens surfaces a shared fingerprint),
  * per-source duplication-rate reporting, and higher-order array
  * functions over embeddings (the codegen'd transform/filter/aggregate
  * family — no UDF, no collect).
  *
  * Determinism (SURVEY §2.0): tokenization is the catalog's shared
  * space-split + non-empty filter; n-gram hashes ride the shared
  * 60-bit md5 device ([[Dedup.h60]]); float embeddings round per
  * ELEMENT into exact micro-unit longs before any sum, so aggregates
  * are order-free; every query ends in a total ORDER BY.
  *
  * Scale notes: bigram counting is explode → hash-aggregate (map-side
  * partial combine keeps shuffle at distinct-bigram width, not token
  * volume). Winnowing is per-document local work (one projection, no
  * shuffle) until the fingerprint self-join — which is the standard
  * LSH-bucket join on fp, skew-bounded because each fingerprint is a
  * 60-bit hash min over a content window. The array HOF query is a
  * pure narrow projection: one scan, zero shuffles before the sort.
  */
object Mining {
  /** Non-empty space-split tokens of `text` as column `tk`. */
  private def withTokens(df: DataFrame): DataFrame =
    df.withColumn("tk", expr("filter(split(text, ' '), x -> x != '')"))

  /** Top-30 word bigrams across the corpus — the phrase-vocabulary
    * report (tokenizer-merge candidates, collocation mining). Bigram
    * arrays build with zip_with over two slices (codegen'd, no UDF),
    * then one explode + hash aggregate; rank is total-ordered
    * (count desc, bigram asc). */
  val qDocsBigrams: Q = (s, d) =>
    withTokens(Tables.documents(s, d))
      .filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1), (a, b) -> concat(a, ' ', b))"))
        .as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cnt"))
      // TakeOrdered head FIRST (distributed top-k over the vocab), THEN
      // rank the surviving 30 rows — never a global window over the
      // full bigram vocabulary
      .orderBy(desc("cnt"), asc("bg")).limit(30)
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("cnt"), asc("bg"))).cast("long"))
      .select("rk", "bg", "cnt")
      .orderBy("rk")

  /** Winnowing near-dup pairs: token-3-gram hashes per document, each
    * w=4 window keeps its minimum hash as a fingerprint, distinct
    * fingerprints join doc-to-doc — top-50 pairs by shared-fingerprint
    * count. Guarantee: any shared token run of ≥ 3+4-1 = 6 tokens
    * yields at least one shared fingerprint (the winnowing paper's
    * correctness property), which MinHash's random sampling cannot
    * promise. All per-doc work is one codegen'd projection; the only
    * shuffle is the fp-bucket self-join. */
  val qDocsWinnow: Q = (s, d) => {
    // r17: fingerprint derivation is the native graft_winnow generator —
    // byte-identical to the declarative chain it replaces (FunctionsSpec
    // pins the parity):
    //   h_i = h60('wn', tk[i] ⊔ ' ' ⊔ tk[i+1] ⊔ ' ' ⊔ tk[i+2])
    //   fp  = array_distinct(window-min_4(h))        [tk ≥ 6 guard inside]
    // The chain paid an interpreted lambda + concat allocation per gram
    // and a slice allocation per window; the kernel assembles gram bytes
    // in a reusable buffer, hashes through the shared FastMd5, and
    // dedups in the generation-stamped set (the graft_doc_grams device).
    graft.functions.GraftFunctions.register(s)
    val fps = Tables.documents(s, d)
      .select(col("doc_id"), expr("graft_winnow(text, 3, 4, 'wn')"))
    // one pass, no self-join: group docs per fingerprint and expand the
    // in-bucket pairs directly — the join form shuffled BOTH sides and
    // recomputed the tokenize+hash projection twice (it was the r10
    // bench's #3 entry); this shuffles the fp rows once and tokenizes
    // once. Same bucketed guarantee, still never corpus². Pair expansion
    // rides Dedup.expandBucketPairs (r11 VERDICT #3): a stop-word
    // fingerprint shared by B docs is a B²/2 expansion, and untiled it
    // all sat in the one task that aggregated the bucket — the shared
    // triangle-blocking device splits buckets over 4096 ids into tiles
    // and re-shuffles them, identical pair multiset by construction.
    val buckets = fps.groupBy("fp")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
    Dedup.expandBucketPairs(buckets)
      .groupBy(col("id_a").as("d1"), col("id_b").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .orderBy(desc("shared"), asc("d1"), asc("d2"))
      .limit(50)
  }

  /** Duplication-rate report per source: how many docs share their
    * exact text fingerprint with at least one other doc anywhere in
    * the corpus — the first number a corpus audit asks for, and the
    * before/after metric around any dedup pass. Two hash aggregates
    * (fingerprint counts, then per-source rollup); the fp join is
    * broadcast-size (distinct duplicated fps ≪ corpus). */
  val qDocsDupRate: Q = (s, d) => {
    val fp = Tables.documents(s, d)
      .select(col("source"), md5(col("text")).as("fp"))
    val counts = fp.groupBy("fp").agg(count(lit(1)).as("n"))
    fp.join(counts, Seq("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        Num.roundd(col("n_dup").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
      .orderBy("source")
  }

  /** Higher-order array functions over embeddings — size / filter /
    * transform / aggregate as one codegen'd narrow projection (the
    * no-UDF contract for vector columns): dimension, positive-dim
    * count, L2 norm and ReLU mass. Each float rounds per element into
    * an exact micro-unit long BEFORE any sum, so both engines aggregate
    * identical integers in any order. */
  val qEmbArrayHof: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        size(col("v")).cast("long").as("dim"),
        expr("cast(size(filter(v, x -> x > 0d)) as bigint)").as("n_pos"),
        expr("transform(v, x -> if(x < 0, -floor(abs(x)*1000000 + 0.5d), floor(abs(x)*1000000 + 0.5d)))")
          .as("m"))
      .select(col("vec_id"), col("dim"), col("n_pos"),
        Num.roundd(sqrt(expr("aggregate(m, 0L, (a, x) -> a + x*x)").cast("double")) / 1e6, 6)
          .as("l2"),
        Num.roundd(expr("aggregate(m, 0L, (a, x) -> a + greatest(x, 0L))").cast("double") / 1e6, 6)
          .as("relu_sum"))
      .orderBy("vec_id")

  /** Jaro–Winkler similarity between adjacent docs per lang (the fuzzy-
    * match complement to the Levenshtein tier) through the NATIVE
    * [[graft.functions.JaroWinkler]] expression — whole-stage codegen
    * emits a direct static call, no UDF boxing. Semantics are pinned
    * bit-exact to DuckDB's jaro_winkler_similarity (see the kernel's
    * Scaladoc), so the oracle needs no rounding slack; the 6-dp round is
    * display-only. */
  val qTextJaroPairs: Q = (s, d) => {
    graft.functions.GraftFunctions.register(s)
    val w = Window.partitionBy("lang").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 32).as("t"))
      .withColumn("next_id", lead("doc_id", 1).over(w))
      .withColumn("next_t", lead("t", 1).over(w))
      .filter(col("next_id").isNotNull)
      .select(col("lang"), col("doc_id").as("id_a"), col("next_id").as("id_b"),
        Num.roundd(expr("graft_jaro_winkler(t, next_t)"), 6).as("sim"))
      .orderBy("id_a")
  }

  /** Dominant principal direction of the embedding corpus by 8 rounded
    * power-iteration steps over the (uncentered) second-moment matrix —
    * the anisotropy probe run before whitening / ABTT-style common-
    * direction removal. The DISTRIBUTED part is the Gram build: per-
    * element micro-unit longs make Σ mᵢmⱼ an exact integer aggregate
    * (order-free, map-side combinable — at 100 TB this is the one
    * pass over the data). The dim×dim matrix (64² here) then collapses
    * to the driver — the same bounded-state broadcast switch-point as
    * PageRank's rank vector — and iterates with per-step 8-dp rounding.
    * SQL gives no sum-order guarantee for the matrix-vector products,
    * so cross-engine agreement rests on the per-step round absorbing
    * sub-1e-8 drift (the PageRank invariant), while the Gram matrix
    * itself is exact on both engines. The result is DEFINED as the
    * 8-step rounded iterate — convergence is a property of the data,
    * not a termination condition. */
  val qEmbPowerIter: Q = (s, d) => {
    // r17 (guide §2.3/§4): the Gram build is ONE graft_gram aggregate —
    // per-row outer-product accumulation into a dim² long buffer,
    // map-side combinable, so the exchange ships one buffer per
    // partition. The former shape posexploded the corpus to corpus×dim
    // element rows and SELF-JOINED them on vec_id (corpus×dim shuffled
    // twice, corpus×dim² join rows) before the (i, j) aggregate could
    // shrink it. Long sums reassociate freely — the merged entries are
    // bit-identical to the join form's sum(mi*mj), so the driver solve
    // and the oracle are untouched.
    graft.functions.GraftFunctions.register(s)
    val flat = Tables.embeddings(s, d)
      .select(expr(
        "transform(cast(embedding as array<double>), x -> if(x < 0, -floor(abs(x)*1000000 + 0.5d), floor(abs(x)*1000000 + 0.5d)))")
        .as("m"))
      .agg(expr("graft_gram(m)").as("g"))
      .head().getAs[scala.collection.Seq[Long]](0)
    // Micro-unit Gram entries are exact only while n_vectors·(1e6·|x|)²
    // stays under Long.MaxValue — i.e. |x|≤1 needs n ≲ 9.2e6 rows per
    // Gram cell; beyond that the Gram pass must move to DecimalType
    // (the kernel errors loudly via addExact, mirroring ANSI sum).
    import s.implicits._
    if (flat.isEmpty)
      Seq.empty[(Long, Double, Double)].toDF("i", "loading", "lam")
    else {
    val dim = math.sqrt(flat.length.toDouble).toInt
    val mat = Array.tabulate(dim, dim)((i, j) => flat(i * dim + j).toDouble / 1e12)
    def r8(x: Double): Double = {
      val m = math.floor(math.abs(x) * 1e8 + 0.5) / 1e8; if (x < 0) -m else m
    }
    var v = Array.fill(dim)(1.0)
    for (_ <- 1 to 8) {
      val u = Array.tabulate(dim) { i =>
        (0 until dim).foldLeft(0.0)((a, j) => a + mat(i)(j) * v(j))
      }
      val norm = math.sqrt(u.foldLeft(0.0)((a, x) => a + x * x))
      v = u.map(x => r8(x / norm))
    }
    val lamRaw = (0 until dim).foldLeft(0.0) { (a, i) =>
      a + v(i) * (0 until dim).foldLeft(0.0)((b, j) => b + mat(i)(j) * v(j))
    }
    val lam = { val m = math.floor(math.abs(lamRaw) * 1e6 + 0.5) / 1e6
      if (lamRaw < 0) -m else m }
    (1 to dim).map(i => (i.toLong, v(i - 1), lam)).toDF("i", "loading", "lam")
      .orderBy("i")
    }
  }

  /** Per-document n-gram novelty (the curation curve: how much of each
    * doc is unseen in any earlier doc, by doc_id order). Shingles are
    * distinct per doc (withShingles array_distincts), so per-doc totals
    * are just `size(shingles)` — no explode — and per-doc novel counts
    * fall out of the first-occurrence aggregate re-keyed by its OWN
    * doc_id column: a gram g with min(doc_id)=d necessarily occurs in d,
    * so `firsts.groupBy(fd).count()` IS the novel count. The only
    * gram-level shuffle left is the unavoidable min-doc aggregate
    * (map-side combinable); everything after is doc-sized. No
    * gram-table broadcast, no second shingle explode — the previous
    * shape re-joined the corpus gram table against a full second
    * shingle pass and died at scale. A corpus whose tail goes to zero
    * novelty is telling you to stop crawling that source. */
  val qDocsNgramNovelty: Q = (s, d) => {
    val sh = Dedup.withShingles(
      Tables.documents(s, d).select("doc_id", "text"), "text", 3)
    val totals = sh.select(col("doc_id"),
      size(col("shingles")).cast("long").as("n_grams"))
    val novel = sh.select(col("doc_id"), explode(col("shingles")).as("g"))
      .groupBy("g").agg(min("doc_id").as("fd"))
      .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        Num.roundd(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams").cast("double"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** One BPE merge step over the corpus vocabulary — the tokenizer-
    * training primitive: count adjacent character pairs weighted by word
    * frequency, merge the argmax pair everywhere (left-to-right,
    * non-overlapping — both engines' replace semantics), and report the
    * top-10 pairs of the NEXT round. Pair counting rides the compressed
    * word-frequency table (vocabulary-bounded, never token volume), so
    * the step costs the same at any corpus scale once the vocab
    * aggregate is paid. */
  val qTextBpeStep: Q = (s, d) => {
    val vocab = withTokens(Tables.documents(s, d))
      .select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
    // guard: Spark's sequence(1, 0) runs DESCENDING, so 1-char words must
    // filter out rather than produce an empty pair list
    val pairs1 = vocab
      .filter(length(col("w")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, char_length(w) - 1), i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"))
        .as("p"))
      .groupBy("p").agg(sum("f").as("cnt"))
    val best = pairs1.orderBy(desc("cnt"), asc("p")).limit(1)
      .select(col("p").as("bp"), col("cnt").as("bcnt"))
    val merged = vocab.crossJoin(broadcast(best))
      .withColumn("sp", expr(
        "array_join(transform(sequence(1, char_length(w)), i -> substring(w, i, 1)), ' ')"))
      .withColumn("m", expr("replace(sp, bp, replace(bp, ' ', ''))"))
    val pairs2 = merged
      .filter(size(split(col("m"), " ")) >= 2) // same descending-sequence guard
      .select(col("f"), col("bp"), col("bcnt"), explode(expr(
        "transform(sequence(1, size(split(m, ' ')) - 1), i -> concat(element_at(split(m, ' '), i), ' ', element_at(split(m, ' '), i + 1)))"))
        .as("p"))
      .groupBy("bp", "bcnt", "p").agg(sum("f").as("cnt"))
    pairs2
      .orderBy(desc("cnt"), asc("p")).limit(10)
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("cnt"), asc("p"))).cast("long"))
      .select("rk", "p", "cnt", "bp", "bcnt")
      .orderBy("rk")
  }

  /** Line-level dedup report (the C4/RefinedWeb pipeline stage between
    * exact-doc and near-dup dedup): documents chunk into 16-token
    * "lines", lines fingerprint exactly, and each doc reports how much
    * of it is corpus-duplicated at line granularity — catching the
    * boilerplate that whole-doc hashing misses. Fingerprint counting is
    * one map-side-combinable aggregate; the count join is the standard
    * fp-bucket shape. */
  val qDocsLineDedup: Q = (s, d) => {
    val lines = withTokens(Tables.documents(s, d))
      .filter(size(col("tk")) >= 1)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, ((size(tk) - 1) div 16) + 1), k -> array_join(slice(tk, (k - 1) * 16 + 1, 16), ' '))"))
        .as("line"))
      .select(col("doc_id"), md5(col("line")).as("fp"))
    val counts = lines.groupBy("fp").agg(count(lit(1)).as("cnt"))
    lines.join(counts, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_lines"), col("n_dup"),
        Num.roundd(col("n_dup").cast("double") / col("n_lines").cast("double"), 6)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** One exact Lloyd iteration of k-means (k=4, centroids seeded from
    * the 4 smallest vec_ids): assign each vector to its nearest centroid
    * by squared L2 over exact micro-unit longs (no float ever decides an
    * assignment; ties break on centroid id), then re-estimate centroids
    * as per-dimension means. The oracle-backed complement to the
    * approximate IVF tier's internal k-means. Scale shape: centroids
    * BROADCAST (k×dim, bounded), assignment is one narrow pass over the
    * corpus, re-estimation one hash aggregate on (cid, dim) — the
    * canonical distributed k-means step. */
  val qEmbKmeansStep: Q = (s, d) => {
    val m = Tables.embeddings(s, d)
      .select(col("vec_id"), expr(
        "transform(cast(embedding as array<double>), x -> if(x < 0, -floor(abs(x)*1000000 + 0.5d), floor(abs(x)*1000000 + 0.5d)))")
        .as("m"))
    val cents = m.orderBy("vec_id").limit(4)
      .select(col("vec_id").as("cid"), col("m").as("cm"))
    val wv = Window.partitionBy("vec_id").orderBy("dd", "cid")
    m.crossJoin(broadcast(cents))
      .withColumn("dd", expr(
        "aggregate(zip_with(m, cm, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("cid"), posexplode(col("m")))
      .groupBy("cid", "pos")
      .agg(sum("col").as("sm"), count(lit(1)).as("n"))
      .select(col("cid"), (col("pos") + 1).cast("long").as("i"), col("n"),
        Num.roundd(col("sm").cast("double") / col("n") / 1e6, 6).as("c_new"))
      .orderBy("cid", "i")
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    * space, then WITHIN each cluster drop any vector that has a
    * near-duplicate (cosine ≥ τ) closer to the cluster centroid than
    * itself — ties break to the smaller vec_id, so the rule is a pure
    * per-pair predicate (no connected components) and deterministic.
    * Clustering reuses q_emb_kmeans_step's exact micro-unit assignment
    * (first-4-ids seeds, integer distances, tie to smallest cid); all
    * similarities are the codegen'd graft_cosine rounded 6dp (bit-equal
    * to DuckDB's list_cosine_similarity).
    *
    * Scale: the pair fan-out is WITHIN-CLUSTER only — the whole point of
    * SemDeDup over all-pairs — so cost is Σ|cluster|², bounded by
    * choosing k ∝ √n at ingest (the fixture pins k = 4 so the oracle can
    * replay the clustering exactly; the operator shape is k-agnostic). */
  val qEmbSemdedup: Q = (s, d) => semdedupK(s, d, 4)

  /** SemDeDup with k ∝ corpus: k = max(4, n/500) keeps the expected
    * cluster size ~500 at ANY corpus size, so the within-cluster pair
    * expansion — the algorithm's intrinsic cost — stays LINEAR in the
    * corpus (pairs ≈ n·500) instead of quadratic at fixed k. This is the
    * 100 TB path (ScaleBench r13 measured fixed-k=4 semdedup at 10×
    * data costing ~100× — within-cluster pairs grow (n/k)²; the paper's
    * own protocol grows k with the corpus). One bounded driver-side
    * count() picks k; the oracle derives the same k from a scalar
    * subquery. At true 100 TB the centroid broadcast gives way to an
    * ANN-assisted assignment, but the pair-volume bound is the same. */
  val qEmbSemdedupScaled: Q = (s, d) => {
    val n = Tables.embeddings(s, d).count()
    semdedupK(s, d, math.max(4L, n / 500).toInt)
  }

  private def semdedupK(s: SparkSession, d: String, k: Int) = {
    graft.functions.GraftFunctions.register(s)
    val τ = 0.4
    // µ-int embeddings as LONG arrays: the exact squared distance then
    // rides graft_dot_long (codegen) via ‖m−c‖² = m·m + c·c − 2 m·c —
    // bit-identical integers to the Σ(m−c)² HOF form (every intermediate
    // < 2⁵³), but a tight JIT'd loop instead of interpreted zip_with.
    val m = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), expr(
        "transform(cast(embedding as array<double>), x -> cast(if(x < 0, -floor(abs(x)*1000000 + 0.5d), floor(abs(x)*1000000 + 0.5d)) as bigint))")
        .as("m"))
    val cents = m.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("m").as("cm"), col("embedding").as("ce"))
    // assignment = min(struct(dd, cid, …)) with map-side combine: each
    // partition collapses its own vecs×k rows in place, so nothing the
    // size of vecs×k is ever shuffled or sorted (the previous
    // row_number() window shuffled the full cross product — 42 s at
    // ScaleBench's 100× before this rewrite). Tie-break (dd, cid) is the
    // same lexicographic order the window form used; embedding/ce ride
    // the struct but are never compared (cid is unique per row).
    val assigned = m.crossJoin(broadcast(cents))
      .withColumn("dd", expr(
        "graft_dot_long(m, m) + graft_dot_long(cm, cm) - 2L * graft_dot_long(m, cm)"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dd"), col("cid"), col("embedding"), col("ce"))).as("__b"))
      .select(col("vec_id"), col("__b.cid").as("cid"),
        col("__b.embedding").as("embedding"), col("__b.ce").as("ce"))
      .withColumn("c_sim", Num.roundd(Llm.cosineNative(s, "embedding", "ce"), 6))
      .select("cid", "vec_id", "embedding", "c_sim")
    val a = assigned.select(col("cid"), col("vec_id").as("u"),
      col("embedding").as("eu"), col("c_sim").as("cu"))
    val b = assigned.select(col("cid"), col("vec_id").as("v"),
      col("embedding").as("ev"), col("c_sim").as("cv"))
    val dropped = a.join(b, "cid")
      .filter(col("u") =!= col("v"))
      .withColumn("sim", Num.roundd(Llm.cosineNative(s, "eu", "ev"), 6))
      .filter(col("sim") >= τ &&
        (col("cu") > col("cv") || (col("cu") === col("cv") && col("u") < col("v"))))
      .select(col("v").as("vec_id")).distinct()
      .withColumn("dropped", lit(1L))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("c_sim"),
        coalesce(col("dropped"), lit(0L)).as("dropped"))
      .orderBy("vec_id")
  }

  /** DSIR importance weights (Xie et al. 2023, data selection via
    * importance resampling): per-document log importance
    * Σ_w count_w(doc)·[ln p_target(w) − ln p_raw(w)] with add-1-smoothed
    * unigram models — the score that resamples a raw crawl toward a
    * target domain (here: the en slice as the target). The vocab-sized
    * log-ratio table joins the doc-word counts on the word key (the
    * standard fp-bucket shape, linear in tokens); per-word ratios round
    * at 6dp before the weighted sum (the q_text_lm_score log discipline)
    * and the weight rounds once at 4dp. */
  val qDocsDsirWeight: Q = (s, d) => {
    val toks = withTokens(Tables.documents(s, d))
      .select(col("doc_id"), col("lang"), explode(col("tk")).as("w"))
    val dw = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val raw = toks.groupBy("w").agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("lang") === "en")
      .groupBy("w").agg(count(lit(1)).as("ct"))
    val stats = raw.agg(sum("cr").as("nr"), count(lit(1)).as("v"))
      .crossJoin(toks.filter(col("lang") === "en").agg(count(lit(1)).as("nt")))
    val lr = raw.join(tgt, Seq("w"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lr", Num.roundd(
        log(((coalesce(col("ct"), lit(0L)) + lit(1)).cast("double") * (col("nr") + col("v")).cast("double")) /
          ((col("cr") + lit(1)).cast("double") * (col("nt") + col("v")).cast("double"))), 6))
      .select("w", "lr")
    dw.join(lr, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_toks"),
        Num.roundd(Num.roundd(sum(col("c") * col("lr")), 6), 4).as("dsir_w"))
      .orderBy("doc_id")
  }

  /** Collocation mining by pointwise mutual information: bigrams with
    * count ≥ 5 scored PMI = ln((c_xy/B)/((c_x/N)(c_y/N))) — the measure
    * that separates true phrases ("san francisco") from merely-frequent
    * pairs ("of the"), the tokenizer-merge and phrase-vocabulary
    * criterion q_docs_bigrams' raw counts cannot express. Every count is
    * an exact long; the PMI is ONE ln of their ratio (identical double
    * expression both engines), rounded before the rank so the top-30
    * head (TakeOrdered — distributed, never a vocab-wide window) is
    * decided on identical values. Two hash aggregates + two word-keyed
    * joins of vocab-sized tables — linear in tokens, vocabulary-bounded
    * thereafter. */
  val qDocsPmi: Q = (s, d) => {
    val toks = withTokens(Tables.documents(s, d))
    // r17: pin the two vocabulary-sized rollups — without materialization
    // the tokenize+aggregate subtree re-ran once per consumer (uni feeds
    // its total AND both w1/w2 joins, bg feeds its total AND the scored
    // head: 6 corpus passes in the r16 plan, plans/r17/docs_pmi_before).
    // Checkpoint state is vocab/bigram-vocab-sized — bounded by language,
    // not corpus, so the device scales.
    val uni = ArtifactStore.rotate("pmi_uni")(
      toks.select(explode(col("tk")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw")))
    val nTot = uni.agg(sum("cw").as("n"))
    val bg = toks.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1), (a, b) -> concat(a, ' ', b))"))
        .as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cxy"))
      .transform(ArtifactStore.rotate("pmi_bg"))
    val bTot = bg.agg(sum("cxy").as("b"))
    bg.filter(col("cxy") >= 5)
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .withColumn("w2", expr("split_part(bg, ' ', 2)"))
      .join(uni.select(col("w").as("w1"), col("cw").as("cx")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cy")), "w2")
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(bTot))
      .withColumn("pmi", Num.roundd(log(
        col("cxy").cast("double") * col("n").cast("double") * col("n").cast("double") /
          (col("b").cast("double") * col("cx").cast("double") * col("cy").cast("double"))), 6))
      .orderBy(desc("pmi"), asc("bg")).limit(30)
      .select("bg", "cxy", "pmi")
      .orderBy(desc("pmi"), asc("bg"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis 2006):
    * each doc draws a DETERMINISTIC uniform u from the seeded md5 device
    * (u = (h mod 1e6 + 0.5)/1e6 — never 0 or 1) and ranks by the ES key
    * ln(u)/w with w = n_chars; the global top-20 keys ARE a without-
    * replacement sample ∝ weight. The quality-weighted selection step a
    * curation pipeline runs over billions of docs: one projection + a
    * TakeOrdered head, no shuffle beyond the top-k, reproducible across
    * runs/partitionings/engines because nothing is random at all. Key
    * pre-rounds at 9 dp before the rank (doc_id tie-break). */
  val qDocsWeightedSample: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("hmod",
        expr(s"pmod(${Dedup.h60("'ws'", "cast(doc_id as string)")}, 1000000)"))
      .withColumn("u", (col("hmod").cast("double") + lit(0.5)) / lit(1e6))
      .withColumn("es_key", Num.roundd(log(col("u")) / col("n_chars").cast("double"), 9))
      .orderBy(desc("es_key"), asc("doc_id")).limit(20)
      .select(col("doc_id"), col("source"), col("n_chars").as("w"), col("es_key"))
      .orderBy(desc("es_key"), asc("doc_id"))

  /** Interpolated Kneser–Ney bigram language model (Kneser & Ney 1995;
    * Chen & Goodman 1998 formulation, fixed discount D = 0.75) trained
    * on the non-src0 sources and scored on the held-out src0 docs — the
    * bigram upgrade of q_text_heldout_ppl's add-1 unigram, and THE
    * classic n-gram smoothing: the backoff weight is the CONTINUATION
    * count (how many distinct contexts a word completes), not raw
    * frequency, so "francisco" (frequent but one-context) stops leaking
    * probability mass.
    *   p(w2|w1) = (max(c12−D,0) + D·N1+(w1·)·pc(w2)) / c(w1·)
    *   pc(w2)   = (N1+(·w2) + 1) / (B + V)        [add-1 so unseen
    *              eval words keep mass; unseen contexts back off to pc]
    * Every count (c12, c1, N1+ left/right, B distinct bigrams, V train
    * vocab) is an exact long; p is ONE identical double tree per pair,
    * its ln rounds at 6 dp (the q_text_lm_score libm discipline) so the
    * per-doc mean is order-free. Scale: counts are map-side-combinable
    * hash aggregates at distinct-bigram width; the eval side joins on
    * word/bigram keys — linear in tokens, vocabulary-bounded tables,
    * no corpus-sized broadcast anywhere. */
  val qTextKnBigram: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val pairsOf = (df: DataFrame) => withTokens(df)
      .filter(size(col("tk")) >= 2)
      .withColumn("pr", explode(expr(
        "zip_with(slice(tk, 1, size(tk)-1), slice(tk, 2, size(tk)-1), (a, b) -> struct(a AS w1, b AS w2))")))
      .withColumn("w1", col("pr.w1")).withColumn("w2", col("pr.w2"))
    val big = pairsOf(doc.filter(col("source") =!= "src0"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = big.groupBy(col("w1").as("cw1"))
      .agg(sum("c12").as("c1"), count(lit(1)).as("nl"))
    val cont = big.groupBy(col("w2").as("kw2")).agg(count(lit(1)).as("nr"))
    val btot = big.agg(count(lit(1)).as("bb"))
    val vocab = withTokens(doc.filter(col("source") =!= "src0"))
      .select(explode(col("tk")).as("w")).agg(countDistinct("w").as("vv"))
    pairsOf(doc.filter(col("source") === "src0"))
      .select(col("doc_id"), col("w1"), col("w2"))
      .join(big, Seq("w1", "w2"), "left")
      .join(ctx, col("w1") === col("cw1"), "left")
      .join(cont, col("w2") === col("kw2"), "left")
      .crossJoin(broadcast(btot)).crossJoin(broadcast(vocab))
      .withColumn("pc",
        (coalesce(col("nr"), lit(0L)) + lit(1L)).cast("double") /
          (col("bb") + col("vv")).cast("double"))
      .withColumn("p",
        when(col("c1").isNotNull,
          (greatest(coalesce(col("c12"), lit(0L)).cast("double") - lit(0.75), lit(0.0)) +
            lit(0.75) * col("nl").cast("double") * col("pc")) / col("c1").cast("double"))
          .otherwise(col("pc")))
      .withColumn("lnp", Num.roundd(log(col("p")), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        Num.roundd(-sum("lnp") / count(lit(1)).cast("double"), 4).as("kn_nll"))
      .orderBy("doc_id")
  }

  /** Pairwise Jensen–Shannon divergence between the unigram
    * distributions of every source pair — "has src3's vocabulary
    * drifted from src0's" — the corpus-mixture drift monitor next to
    * q_ts_drift_psi's numeric PSI (JS is the standard for discrete
    * text distributions: symmetric, bounded by ln 2, defined at zeros).
    * Counts are exact longs; the (word × source) grid densifies with
    * real zeros so one-sided words contribute their exact x·ln(2)
    * limit term (CASE on the LONG count); per-pair sums round at 6 dp
    * after the ≤vocab-term summation (chi-square discipline). Scale:
    * one tokenize pass → a (source, word) hash aggregate; the pair
    * fan-out multiplies the VOCABULARY by the handful of source pairs,
    * never the corpus. */
  val qDocsSourceDivergence: Q = (s, d) => {
    // r18: a rotate pin of this 4×-consumed count table was measured and
    // REJECTED (0.44 → 0.54-0.65 s): at sf0.1 the duplicated tokenize
    // branches overlap inside one job; the pin's barrier loses more.
    val cnt = withTokens(Tables.documents(s, d))
      .select(col("source"), explode(col("tk")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("source").as("ts")).agg(sum("c").as("t"))
    val words = cnt.select("w").distinct()
    val srcs = cnt.select("source").distinct()
    val dense = words.crossJoin(broadcast(srcs))
      .join(cnt, Seq("source", "w"), "left")
      .join(broadcast(tot), col("source") === col("ts"))
      .select(col("w"), col("source"), coalesce(col("c"), lit(0L)).as("c"), col("t"))
    val a = dense.select(col("w"), col("source").as("src_a"), col("c").as("ca"), col("t").as("ta"))
    val b = dense.select(col("w").as("wb"), col("source").as("src_b"), col("c").as("cb"), col("t").as("tb"))
    val p = col("ca").cast("double") / col("ta").cast("double")
    val q = col("cb").cast("double") / col("tb").cast("double")
    a.join(b, col("w") === col("wb") && col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        (when(col("ca") === 0L, lit(0.0)).otherwise(p * log(lit(2.0) * p / (p + q))) +
          when(col("cb") === 0L, lit(0.0)).otherwise(q * log(lit(2.0) * q / (p + q)))).as("term"),
        when(col("ca") > 0L || col("cb") > 0L, 1L).otherwise(0L).as("pres"))
      .groupBy("src_a", "src_b")
      .agg(sum("pres").as("n_words"), Num.roundd(lit(0.5) * sum("term"), 6).as("js"))
      .orderBy("src_a", "src_b")
  }

  // ---- catalog ------------------------------------------------------------

  val all: Seq[Entry] = Seq(
    Entry("q_docs_pmi", qDocsPmi, Some(
      "WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x != '') tk FROM documents), " +
        "u AS (SELECT w, CAST(count(*) AS BIGINT) cw FROM (SELECT unnest(tk) w FROM t) GROUP BY 1), " +
        "n AS (SELECT CAST(sum(cw) AS BIGINT) n FROM u), " +
        "bgc AS (SELECT bg, CAST(count(*) AS BIGINT) cxy FROM " +
        "(SELECT unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) bg FROM t WHERE len(tk) >= 2) GROUP BY 1), " +
        "b AS (SELECT CAST(sum(cxy) AS BIGINT) b FROM bgc), " +
        "s AS (SELECT bg, cxy, split_part(bg, ' ', 1) w1, split_part(bg, ' ', 2) w2 FROM bgc WHERE cxy >= 5), " +
        "j AS (SELECT s.bg, s.cxy, round(ln(CAST(s.cxy AS DOUBLE) * CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE) / " +
        "(CAST(b.b AS DOUBLE) * CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE))), 6) pmi " +
        "FROM s JOIN u u1 ON u1.w = s.w1 JOIN u u2 ON u2.w = s.w2, n, b) " +
        "SELECT bg, cxy, pmi FROM j ORDER BY pmi DESC, bg LIMIT 30")),
    Entry("q_docs_weighted_sample", qDocsWeightedSample, Some(
      "WITH h AS (SELECT doc_id, source, n_chars w, " +
        "CAST('0x' || substr(md5('ws' || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 hmod " +
        "FROM documents), " +
        "k AS (SELECT doc_id, source, w, " +
        "round(ln((CAST(hmod AS DOUBLE) + 0.5) / 1000000.0) / CAST(w AS DOUBLE), 9) es_key FROM h) " +
        "SELECT doc_id, source, w, es_key FROM k ORDER BY es_key DESC, doc_id LIMIT 20")),
    Entry("q_docs_bigrams", qDocsBigrams, Some(
      "WITH t AS (SELECT list_filter(string_split(text, ' '), x -> x != '') tk FROM documents), " +
        "b AS (SELECT unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) bg FROM t WHERE len(tk) >= 2), " +
        "c AS (SELECT bg, CAST(count(*) AS BIGINT) cnt FROM b GROUP BY 1), " +
        "r AS (SELECT bg, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, bg ASC) AS BIGINT) rk FROM c) " +
        "SELECT rk, bg, cnt FROM r WHERE rk <= 30 ORDER BY rk")),
    Entry("q_docs_winnow", qDocsWinnow, Some(
      "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') tk FROM documents), " +
        "g AS (SELECT doc_id, [CAST('0x' || substr(md5('wn' || ':' || tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15) AS BIGINT) " +
        "FOR i IN range(1, len(tk)-1)] h FROM t WHERE len(tk) >= 6), " +
        "f AS (SELECT doc_id, unnest(list_distinct([list_min(h[i:i+3]) FOR i IN range(1, len(h)-2)])) fp FROM g), " +
        "p AS (SELECT a.doc_id d1, b.doc_id d2, CAST(count(*) AS BIGINT) shared " +
        "FROM f a JOIN f b ON b.fp = a.fp AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT d1, d2, shared FROM p ORDER BY shared DESC, d1, d2 LIMIT 50")),
    Entry("q_docs_dup_rate", qDocsDupRate, Some(
      "WITH fp AS (SELECT source, md5(text) fp FROM documents), " +
        "c AS (SELECT fp, CAST(count(*) AS BIGINT) n FROM fp GROUP BY 1) " +
        "SELECT source, CAST(count(*) AS BIGINT) n_docs, " +
        "CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) n_dup, " +
        "round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) dup_rate " +
        "FROM fp JOIN c USING (fp) GROUP BY 1 ORDER BY 1")),
    Entry("q_docs_ngram_novelty", qDocsNgramNovelty, Some(
      "WITH ng AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2), " +
        "i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) g " +
        "FROM (SELECT doc_id, string_split(text, ' ') w FROM documents) WHERE len(w) >= 3), " +
        "f AS (SELECT g, min(doc_id) fd FROM ng GROUP BY 1) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) n_grams, " +
        "CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT) n_novel, " +
        "round(CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) novelty " +
        "FROM ng JOIN f USING (g) GROUP BY 1 ORDER BY doc_id")),
    Entry("q_text_bpe_step", qTextBpeStep, Some(
      "WITH v AS (SELECT w, CAST(count(*) AS BIGINT) f FROM " +
        "(SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) w FROM documents) GROUP BY 1), " +
        "p1 AS (SELECT p, CAST(sum(f) AS BIGINT) cnt FROM " +
        "(SELECT f, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) p FROM v WHERE len(w) >= 2) GROUP BY 1), " +
        "best AS (SELECT p bp, cnt bcnt FROM p1 ORDER BY cnt DESC, p LIMIT 1), " +
        "m AS (SELECT f, bp, bcnt, replace(array_to_string([w[i] FOR i IN range(1, len(w) + 1)], ' '), " +
        "bp, replace(bp, ' ', '')) m FROM v CROSS JOIN best), " +
        "p2 AS (SELECT bp, bcnt, p, CAST(sum(f) AS BIGINT) cnt FROM " +
        "(SELECT f, bp, bcnt, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) p FROM " +
        "(SELECT f, bp, bcnt, string_split(m, ' ') t FROM m) WHERE len(t) >= 2) GROUP BY 1, 2, 3), " +
        "r AS (SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, p) AS BIGINT) rk FROM p2) " +
        "SELECT rk, p, cnt, bp, bcnt FROM r WHERE rk <= 10 ORDER BY rk")),
    Entry("q_docs_line_dedup", qDocsLineDedup, Some(
      "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') tk FROM documents), " +
        "l AS (SELECT doc_id, md5(array_to_string(tk[(k - 1) * 16 + 1 : k * 16], ' ')) fp " +
        "FROM (SELECT doc_id, tk, unnest(range(1, ((len(tk) - 1) // 16) + 2)) k FROM t WHERE len(tk) >= 1)), " +
        "c AS (SELECT fp, CAST(count(*) AS BIGINT) cnt FROM l GROUP BY 1) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) n_lines, " +
        "CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) n_dup, " +
        "round(CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) dup_frac " +
        "FROM l JOIN c USING (fp) GROUP BY 1 ORDER BY doc_id")),
    Entry("q_text_jaro_pairs", qTextJaroPairs, Some(
      "WITH t AS (SELECT doc_id, lang, substr(text, 1, 32) t, " +
        "lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) next_id, " +
        "lead(substr(text, 1, 32)) OVER (PARTITION BY lang ORDER BY doc_id) next_t FROM documents) " +
        "SELECT lang, doc_id id_a, next_id id_b, " +
        "round(jaro_winkler_similarity(t, next_t), 6) sim " +
        "FROM t WHERE next_id IS NOT NULL ORDER BY id_a")),
    Entry("q_emb_kmeans_step", qEmbKmeansStep, Some(
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(CASE WHEN x < 0 " +
        "THEN -floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) " +
        "ELSE floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) END AS BIGINT)) m FROM embeddings), " +
        "c AS (SELECT vec_id cid, m cm FROM e ORDER BY vec_id LIMIT 4), " +
        "dist AS (SELECT e.vec_id, c.cid, e.m, " +
        "list_sum([(m[i] - cm[i]) * (m[i] - cm[i]) FOR i IN range(1, len(m) + 1)]) dd " +
        "FROM e CROSS JOIN c), " +
        "a AS (SELECT vec_id, cid, m FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) rn FROM dist) WHERE rn = 1), " +
        "x AS (SELECT cid, unnest(range(1, len(m) + 1)) i, unnest(m) mv FROM a) " +
        "SELECT cid, CAST(i AS BIGINT) i, CAST(count(*) AS BIGINT) n, " +
        "round(CAST(sum(mv) AS DOUBLE) / count(*) / 1000000, 6) c_new " +
        "FROM x GROUP BY 1, 2 ORDER BY cid, i")),
    Entry("q_emb_power_iter", qEmbPowerIter, Some {
      // AS MATERIALIZED is load-bearing: each step CTE references its
      // predecessor twice (u_k and n_k); without materialization DuckDB
      // inlines and re-evaluates the whole chain exponentially (~2^8
      // Gram rebuilds), turning a sub-second oracle into minutes.
      val steps = (1 to 8).map { k =>
        s"u$k AS MATERIALIZED (SELECT mm.i, sum(mm.v * v${k - 1}.v) u FROM mm JOIN v${k - 1} ON v${k - 1}.i = mm.j GROUP BY 1), " +
          s"n$k AS MATERIALIZED (SELECT sqrt(sum(u * u)) n FROM u$k), " +
          s"v$k AS MATERIALIZED (SELECT i, round(u / n, 8) v FROM u$k, n$k)"
      }.mkString(", ")
      "WITH e AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) i, " +
        "unnest(list_transform(embedding, x -> CAST(CASE WHEN x < 0 " +
        "THEN -floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) " +
        "ELSE floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) END AS BIGINT))) m FROM embeddings), " +
        "g AS MATERIALIZED (SELECT a.i, b.i j, CAST(sum(a.m * b.m) AS BIGINT) s " +
        "FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2), " +
        "mm AS MATERIALIZED (SELECT i, j, CAST(s AS DOUBLE) / 1e12 v FROM g), " +
        "v0 AS (SELECT DISTINCT i, 1.0 v FROM mm), " +
        steps + ", " +
        "lam AS (SELECT round(sum(a.v * mm.v * b.v), 6) l FROM mm " +
        "JOIN v8 a ON a.i = mm.i JOIN v8 b ON b.i = mm.j) " +
        "SELECT CAST(v8.i AS BIGINT) i, v8.v loading, lam.l lam FROM v8, lam ORDER BY i"
    }),
    Entry("q_emb_semdedup", qEmbSemdedup, Some(semdedupSql(
      "SELECT vec_id cid, m cm, embedding ce FROM e ORDER BY vec_id LIMIT 4"))),
    // same formula, k from the corpus size — the scale-safe variant
    Entry("q_emb_semdedup_scaled", qEmbSemdedupScaled, Some(semdedupSql(
      "SELECT cid, cm, ce FROM (SELECT vec_id cid, m cm, embedding ce, " +
        "row_number() OVER (ORDER BY vec_id) rn FROM e) " +
        "WHERE rn <= (SELECT greatest(4, count(*) // 500) FROM embeddings)"))),
    Entry("q_docs_dsir_weight", qDocsDsirWeight, Some(
      "WITH t AS (SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '), x -> x != '')) w FROM documents), " +
        "dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) c FROM t GROUP BY 1, 2), " +
        "raw AS (SELECT w, CAST(count(*) AS BIGINT) cr FROM t GROUP BY 1), " +
        "tgt AS (SELECT w, CAST(count(*) AS BIGINT) ct FROM t WHERE lang = 'en' GROUP BY 1), " +
        "st AS (SELECT CAST(sum(cr) AS BIGINT) nr, CAST(count(*) AS BIGINT) v FROM raw), " +
        "nt AS (SELECT CAST(count(*) AS BIGINT) nt FROM t WHERE lang = 'en'), " +
        "lr AS (SELECT raw.w, round(ln((CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE) * CAST(st.nr + st.v AS DOUBLE)) / " +
        "(CAST(raw.cr + 1 AS DOUBLE) * CAST(nt.nt + st.v AS DOUBLE))), 6) lr " +
        "FROM raw LEFT JOIN tgt ON tgt.w = raw.w CROSS JOIN st CROSS JOIN nt) " +
        "SELECT dw.doc_id, CAST(sum(dw.c) AS BIGINT) n_toks, " +
        "round(round(sum(dw.c * lr.lr), 6), 4) dsir_w " +
        "FROM dw JOIN lr ON lr.w = dw.w GROUP BY 1 ORDER BY 1")),
    Entry("q_emb_array_hof", qEmbArrayHof, Some(
      "WITH t AS (SELECT vec_id, CAST(len(embedding) AS BIGINT) dim, " +
        "CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) n_pos, " +
        "list_transform(embedding, x -> CAST(CASE WHEN x < 0 " +
        "THEN -floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) " +
        "ELSE floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) END AS BIGINT)) m FROM embeddings) " +
        "SELECT vec_id, dim, n_pos, " +
        "round(sqrt(CAST(list_sum(list_transform(m, x -> x * x)) AS DOUBLE)) / 1000000, 6) l2, " +
        "round(CAST(list_sum(list_transform(m, x -> greatest(x, CAST(0 AS BIGINT)))) AS DOUBLE) / 1000000, 6) relu_sum " +
        "FROM t ORDER BY vec_id")),
    Entry("q_text_kn_bigram", qTextKnBigram, Some(
      "WITH tr AS (SELECT list_filter(string_split(text, ' '), x -> x != '') tk FROM documents WHERE source != 'src0'), " +
        "big AS (SELECT split_part(bg, ' ', 1) w1, split_part(bg, ' ', 2) w2, CAST(count(*) AS BIGINT) c12 FROM " +
        "(SELECT unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) bg FROM tr WHERE len(tk) >= 2) GROUP BY 1, 2), " +
        "ctx AS (SELECT w1 cw1, CAST(sum(c12) AS BIGINT) c1, CAST(count(*) AS BIGINT) nl FROM big GROUP BY 1), " +
        "cont AS (SELECT w2 kw2, CAST(count(*) AS BIGINT) nr FROM big GROUP BY 1), " +
        "bt AS (SELECT CAST(count(*) AS BIGINT) bb FROM big), " +
        "vo AS (SELECT CAST(count(DISTINCT w) AS BIGINT) vv FROM (SELECT unnest(tk) w FROM tr)), " +
        "ev AS (SELECT doc_id, split_part(bg, ' ', 1) w1, split_part(bg, ' ', 2) w2 FROM " +
        "(SELECT doc_id, unnest([tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))]) bg FROM " +
        "(SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') tk FROM documents WHERE source = 'src0') " +
        "WHERE len(tk) >= 2)), " +
        "sc AS (SELECT ev.doc_id, " +
        "CASE WHEN ctx.c1 IS NOT NULL THEN " +
        "(greatest(CAST(coalesce(big.c12, 0) AS DOUBLE) - 0.75, 0.0) + " +
        "0.75 * CAST(ctx.nl AS DOUBLE) * (CAST(coalesce(cont.nr, 0) + 1 AS DOUBLE) / CAST(bt.bb + vo.vv AS DOUBLE))) " +
        "/ CAST(ctx.c1 AS DOUBLE) " +
        "ELSE CAST(coalesce(cont.nr, 0) + 1 AS DOUBLE) / CAST(bt.bb + vo.vv AS DOUBLE) END p " +
        "FROM ev LEFT JOIN big ON big.w1 = ev.w1 AND big.w2 = ev.w2 " +
        "LEFT JOIN ctx ON ctx.cw1 = ev.w1 LEFT JOIN cont ON cont.kw2 = ev.w2 CROSS JOIN bt CROSS JOIN vo) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) n_pairs, " +
        "round(-sum(round(ln(p), 6)) / count(*), 4) kn_nll FROM sc GROUP BY 1 ORDER BY 1")),
    Entry("q_docs_source_divergence", qDocsSourceDivergence, Some(
      "WITH tk AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x != '')) w FROM documents), " +
        "cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) c FROM tk GROUP BY 1, 2), " +
        "tot AS (SELECT source ts, CAST(sum(c) AS BIGINT) t FROM cnt GROUP BY 1), " +
        "dense AS (SELECT ws.w, ss.source, CAST(coalesce(cnt.c, 0) AS BIGINT) c, tot.t FROM " +
        "(SELECT DISTINCT w FROM cnt) ws CROSS JOIN (SELECT DISTINCT source FROM cnt) ss " +
        "LEFT JOIN cnt ON cnt.source = ss.source AND cnt.w = ws.w " +
        "JOIN tot ON tot.ts = ss.source), " +
        "pr AS (SELECT a.src_a, b.src_b, " +
        "CASE WHEN a.ca = 0 THEN 0.0 ELSE (CAST(a.ca AS DOUBLE) / a.ta) * " +
        "ln(2.0 * (CAST(a.ca AS DOUBLE) / a.ta) / (CAST(a.ca AS DOUBLE) / a.ta + CAST(b.cb AS DOUBLE) / b.tb)) END + " +
        "CASE WHEN b.cb = 0 THEN 0.0 ELSE (CAST(b.cb AS DOUBLE) / b.tb) * " +
        "ln(2.0 * (CAST(b.cb AS DOUBLE) / b.tb) / (CAST(a.ca AS DOUBLE) / a.ta + CAST(b.cb AS DOUBLE) / b.tb)) END term, " +
        "CASE WHEN a.ca > 0 OR b.cb > 0 THEN 1 ELSE 0 END pres " +
        "FROM (SELECT w, source src_a, c ca, t ta FROM dense) a " +
        "JOIN (SELECT w, source src_b, c cb, t tb FROM dense) b ON b.w = a.w AND a.src_a < b.src_b) " +
        "SELECT src_a, src_b, CAST(sum(pres) AS BIGINT) n_words, round(0.5 * sum(term), 6) js " +
        "FROM pr GROUP BY 1, 2 ORDER BY 1, 2")))

  /** Shared SemDeDup oracle: identical formula for the fixed-k and the
    * k ∝ corpus variants — only the centroid CTE (`centsSelect`)
    * differs. */
  private def semdedupSql(centsSelect: String): String =
    "WITH e AS (SELECT vec_id, embedding, list_transform(embedding, x -> CAST(CASE WHEN x < 0 " +
      "THEN -floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) " +
      "ELSE floor(abs(CAST(x AS DOUBLE)) * 1000000 + 0.5) END AS BIGINT)) m FROM embeddings), " +
      s"c AS ($centsSelect), " +
      "dist AS (SELECT e.vec_id, e.embedding, c.cid, c.ce, " +
      "list_sum([(m[i] - cm[i]) * (m[i] - cm[i]) FOR i IN range(1, len(m) + 1)]) dd " +
      "FROM e CROSS JOIN c), " +
      "a AS (SELECT vec_id, embedding, cid, " +
      "round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(ce AS DOUBLE[])), 6) c_sim FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) rn FROM dist) WHERE rn = 1), " +
      "drp AS (SELECT DISTINCT b.vec_id FROM a x JOIN a b ON b.cid = x.cid AND b.vec_id != x.vec_id " +
      "AND round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4 " +
      "AND (x.c_sim > b.c_sim OR (x.c_sim = b.c_sim AND x.vec_id < b.vec_id))) " +
      "SELECT a.vec_id, a.cid, a.c_sim, " +
      "CAST(CASE WHEN drp.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) dropped " +
      "FROM a LEFT JOIN drp ON drp.vec_id = a.vec_id ORDER BY a.vec_id"
}
