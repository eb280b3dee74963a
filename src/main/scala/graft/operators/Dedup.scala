package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Catalog.Fixture

/** Deduplication operators for text corpora, scale-first.
  *
  * Tiers (cheapest → most thorough):
  *  1. `exactDedup` — md5-keyed group-by. One shuffle on a 128-bit key;
  *     linear at any corpus size.
  *  2. `minHash` + `lshCandidates` — near-dup candidate generation.
  *     Signatures are a per-row projection; banding explodes each doc into
  *     `bands` rows and self-joins on (band, bandHash) — the classic
  *     shingle→minhash→band→bucket-join pipeline. Shuffle volume is
  *     bands × corpus, NOT corpus²; the only pairs materialized are bucket
  *     collisions.
  *  3. `nearDupPairs` — candidates verified with exact n-gram Jaccard.
  *
  * All hashing is md5-derived (deterministic, engine-reproducible — see
  * LlmScale header). SimHash (`simhashBits`) gives a 60-bit
  * locality-sensitive fingerprint whose hamming distance bounds token-set
  * divergence; `simhashBlocks` gives pigeonhole blocking keys (any pair at
  * hamming ≤ 3 shares at least one of 4 blocks) for a bounded
  * candidate join.
  */
object Dedup {

  /** 60-bit md5-derived hash (SQL fragment), seeded; reproducible in
    * DuckDB as CAST('0x'||substr(md5(seed||':'||x),1,15) AS BIGINT). Shared
    * by the sketch operators and the oracle-backed catalog queries.
    *
    * r16: emits the native [[graft.functions.H60]] (byte-identical to the
    * previous `conv(substr(md5(..), 1, 15), 16, 10)` chain, pinned in
    * FunctionsSpec) — the declarative chain allocated MessageDigest +
    * hex-string + substr per row, the dominant constant of every gram /
    * shingle / per-event hash pipeline. Registration is universal:
    * [[graft.Tables]] registers the function pack on every table load,
    * so any query embedding this fragment can resolve it. */
  private[graft] def h60(seedExpr: String, x: String) =
    s"graft_h60(concat($seedExpr, ':', $x))"

  /** Distinct word-`n`-gram shingles of `textCol` as column `shingles`. */
  def withShingles(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    df.withColumn("__w", split(col(textCol), " "))
      .filter(size(col("__w")) >= n)
      .withColumn("shingles", expr(
        s"array_distinct(transform(sequence(0, size(__w)-$n), i -> concat_ws(' ', ${
          (0 until n).map(i => s"__w[i+$i]").mkString(", ")})))"))
      .drop("__w")
  }

  /** One keeper row per distinct text: (text md5, keep_id = min id, n). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Mersenne prime 2^31 - 1: modulus of the affine minhash family. */
  private[operators] val MinhashP = 2147483647L

  /** MinHash signature column `sig` (array of `numHashes` minima) over
    * `shingles` (call withShingles first).
    *
    * Universal-hashing construction: ONE md5 per shingle (seed 'm' →
    * 60-bit int → mod 2^31-1), then `numHashes` affine permutations
    * h_i(x) = ((2i+1)·x + 12582917·i) mod (2^31-1) — 8× fewer md5 calls
    * than a per-hash md5, the dominant cost of the sketch at corpus
    * scale, with identical integer arithmetic in DuckDB (all operands
    * stay < 2^37, no overflow on either engine). */
  def minHash(df: DataFrame, numHashes: Int = 32): DataFrame =
    df.withColumn("__h31", expr(
        s"transform(shingles, x -> pmod(${h60("'m'", "x")}, $MinhashP))"))
      .withColumn("sig", expr(
        s"transform(sequence(0, ${numHashes - 1}), i -> array_min(transform(__h31, h -> pmod((2*i + 1) * h + 12582917 * i, $MinhashP))))"))
      .drop("__h31")

  /** Compiled twin of `withShingles` (graft_shingles kernel): identical
    * output (OperatorSpec holds them equal), one codegen'd pass instead of
    * interpreted higher-order functions. */
  def withShinglesFast(df: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("shingles", expr(s"graft_shingles($textCol, $n)"))
      .filter(col("shingles").isNotNull)
  }

  /** MinHash signatures straight from the text column via the compiled
    * graft_minhash kernel — semantics identical to
    * `minHash(withShingles(df, textCol, n), numHashes)` (DedupSpec holds
    * the two equal), but one codegen'd pass instead of interpreted
    * higher-order functions: the fast path for corpus-sized sketching.
    * Rows with fewer than `n` words are dropped, as withShingles does. */
  def minHashFromText(df: DataFrame, textCol: String,
                      numHashes: Int = 32, n: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("sig", expr(s"graft_minhash($textCol, $n, $numHashes)"))
      .filter(col("sig").isNotNull)
  }

  /** 8-hash signatures of the documents table, pinned in memory as a
    * corpus build keeps its sketch index. */
  val MinhashDocs: Fixture[DataFrame] = Fixture.cached("minhash_docs")((s, d) =>
    minHashFromText(graft.Tables.documents(s, d), "text", numHashes = 8))

  /** LSH banding: explode signatures into (band, band-signature) keys,
    * hash-aggregate ids per bucket, and expand each bucket's id list into
    * its (id_a < id_b) pairs — candidate pairs, deduplicated across bands.
    *
    * Single evaluation of the signature pipeline (a self-JOIN formulation
    * evaluates it once per side) and a single shuffle of bands × corpus
    * rows keyed on the raw band signature. Bucket pair expansion is
    * quadratic per bucket by construction — that is LSH's contract
    * (buckets ARE the candidate sets) — but the WORK is no longer
    * single-task: buckets larger than `maxBucket` (boilerplate text
    * duplicated across a 100 TB corpus lands millions of docs in one
    * bucket) split into sorted chunks, and each (chunk_i, chunk_j ≥ i)
    * pair becomes its own row, re-shuffled so every quadratic tile runs
    * in its own task — triangle blocking inside the bucket. The sorted
    * split preserves the exact pair set: within a chunk the i<j triangle
    * applies; across chunks ci<cj every left id is strictly below every
    * right id, so the full cross product is already (id_a < id_b)-ordered
    * (invariance asserted in OperatorSpec). Remaining 100 TB caveat,
    * documented: the bucket's id LIST still transits one aggregation
    * buffer (~8 bytes/doc) before splitting. */
  def lshCandidates(sigDf: DataFrame, idCol: String, bands: Int,
                    maxBucket: Int = 4096): DataFrame = {
    val buckets = sigDf
      .select(col(idCol).as("__id"), col("sig"))
      .withColumn("band", explode(expr(s"sequence(0, $bands - 1)")))
      .select(col("__id"), col("band"),
        expr(s"slice(sig, band * (size(sig) div $bands) + 1, size(sig) div $bands)").as("band_sig"))
      .groupBy("band", "band_sig")
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    expandBucketPairs(buckets, maxBucket).distinct()
  }

  /** The triangle-blocking pair expansion shared by every bucketed-pair
    * operator (LSH bands above, winnowing fingerprints in Mining): input
    * has a sorted `ids` array per bucket row; output is one row per
    * in-bucket unordered pair (id_a < id_b by the array's sort order),
    * NOT deduplicated across buckets — callers distinct() (LSH candidate
    * sets) or count per pair (shared-fingerprint scores) as their
    * semantics require. Buckets over `maxBucket` split into sorted
    * chunks and each (chunk_i, chunk_j ≥ i) tile becomes its own row,
    * re-shuffled so a mega-bucket's quadratic work spreads across tasks
    * instead of landing in the one task that aggregated the bucket. */
  def expandBucketPairs(buckets0: DataFrame, maxBucket: Int = 4096): DataFrame = {
    // singleton buckets contribute no pairs — and would trip the
    // triangle's sequence(1, 0) (Spark sequences run DESCENDING when
    // start > stop), so the guard is correctness, not just economy
    val buckets = buckets0.filter(size(col("ids")) > 1)
    val triangle =
      "flatten(transform(sequence(1, size(ids) - 1), j -> " +
        "transform(slice(ids, 1, j), a -> struct(a AS id_a, element_at(ids, j + 1) AS id_b))))"
    // r17: the common (small-bucket) branch expands through the native
    // graft_arr_pairs generator — identical pair multiset to the triangle
    // HOF (FunctionsSpec), without a lambda + struct/array allocation per
    // pair; the rare mega-bucket tiles keep the HOF form below.
    graft.functions.GraftFunctions.register(buckets0.sparkSession)
    val small = buckets.filter(size(col("ids")) <= maxBucket)
      .select(expr("graft_arr_pairs(ids)"))
    val big = buckets.filter(size(col("ids")) > maxBucket)
      .withColumn("nc",
        ceil(size(col("ids")).cast("double") / lit(maxBucket.toDouble)).cast("int"))
      .select(col("ids"), explode(expr(
        "flatten(transform(sequence(0, nc - 1), i -> " +
          "transform(sequence(i, nc - 1), j -> struct(i AS ci, j AS cj))))")).as("cp"))
      .select(expr(s"slice(ids, cp.ci * $maxBucket + 1, $maxBucket)").as("ia"),
        expr(s"slice(ids, cp.cj * $maxBucket + 1, $maxBucket)").as("ib"),
        (col("cp.ci") === col("cp.cj")).as("same"))
      // spread the heavy tiles: without this shuffle every tile of a
      // mega-bucket expands in the task that aggregated the bucket
      .repartition(col("ia").getItem(0), col("ib").getItem(0))
      .select(explode(when(col("same"),
          expr(triangle.replace("ids", "ia")))
        .otherwise(expr(
          "flatten(transform(ia, a -> transform(ib, b -> struct(a AS id_a, b AS id_b))))")))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    small.unionByName(big)
  }

  /** Smallest agreeing-position count the signature prefilter keeps:
    * the minhash agreement fraction over `estHashes` positions is an
    * unbiased Jaccard estimator with std √(J(1−J)/estHashes), so pairs
    * whose estimate falls ≥ 2σ below `threshold` (evaluated at J =
    * threshold, the worst case the filter must protect) are dropped —
    * a one-sided miss probability ≤ ~2.5% for a pair EXACTLY at the
    * threshold and vanishing for anything materially above it
    * (OperatorSpec pins the arithmetic and the recall safety on the
    * fixture corpora; DEDUP_QUALITY.md re-measures recall vs planted
    * truth at 1×→1000×). Clamped at 0: a threshold low enough that the
    * 2σ band crosses zero keeps every candidate. */
  def prefilterMinAgree(threshold: Double, estHashes: Int): Int = {
    val cutoff = threshold - 2.0 * math.sqrt(threshold * (1.0 - threshold) / estHashes)
    math.max(math.ceil(estHashes * cutoff - 1e-9).toInt, 0)
  }

  /** LSH candidates verified with exact n-gram Jaccard ≥ threshold, from
    * the raw text column. Both the sketch and the verify-side shingles
    * run the compiled kernels (graft_minhash / graft_shingles) — a single
    * codegen'd pass per side; the Jaccard set-intersection itself is only
    * evaluated on candidate pairs, never corpus².
    *
    * Verify-stage prefilter (round 15): band-bucket collisions are
    * dominated by unrelated pairs (candidate precision measured FLAT at
    * ~0.074 on the planted-truth slices — 13.5 full-shingle Jaccard
    * evaluations per true pair at every scale), so candidates are first
    * screened by SIGNATURE agreement over an `estHashes`-position
    * extended sketch before any shingle array is joined. The extension
    * is free where it matters: the affine family h_i(x) shares the one
    * md5 per shingle, so positions 0..estHashes-1 cost extra pmods, not
    * extra md5s — and positions 0..numHashes-1 of the extended signature
    * ARE the banding signature (same family), so the candidate set is
    * untouched. The screen keeps pairs with ≥ [[prefilterMinAgree]]
    * agreeing positions (est-J ≥ threshold − 2σ); the exact-Jaccard
    * verify then runs on the survivors only. Signatures are estHashes
    * longs/doc vs shingle arrays at hundreds of strings/doc, so the
    * prefilter join is an order of magnitude lighter per row than the
    * verify join it starves. */
  /** Corpus-build artifacts are memoized per docs frame and params: the
    * cascade trio (lsh_verified / cluster / survivors) runs the SAME
    * sketch + screen over the SAME corpus, and the screen's three
    * fixture-scale localCheckpoints tripled per query. Tables returns one
    * frame INSTANCE per table and file stamp, so keying on the docs
    * frame's reference identity inherits that freshness: a rewritten
    * fixture dir yields a new frame and a new entry. */
  private def built(docs: DataFrame, key: Product)(build: => DataFrame): DataFrame =
    graft.ArtifactStore(docs.sparkSession, (docs, key))(build)

  /** The memoized EXTENDED sketch (eh positions) of a corpus — the one
    * signature frame every cascade stage and sketch-adjacent report
    * shares (localCheckpoint = the in-query form of "a corpus build
    * PERSISTS its signature index"): the sketch subtree feeds banding
    * AND both screen sides, and without materialization each consumer
    * re-sketches the corpus — the measured wall of the 100M-doc slice
    * (round-15 dedup profile). Checkpointed state is (id, sig): ~8·eh bytes/doc,
    * executor-local, corpus-linear. */
  private def sketchExtended(docs: DataFrame, idCol: String, textCol: String,
                             eh: Int, n: Int): DataFrame = {
    built(docs, ("dedup_sketch", idCol, textCol, eh, n))(
      minHashFromText(docs.select(col(idCol), col(textCol)), textCol, eh, n)
        .localCheckpoint())
  }

  /** A `numHashes`-position signature frame served FROM the memoized
    * extended sketch: positions 0..numHashes-1 of the affine family ARE
    * the shorter sketch (same per-shingle md5, more pmods), so slicing
    * is byte-identical to sketching at numHashes — and any operator that
    * banding-blocks the same corpus (q_dedup_source_overlap's provenance
    * rollup) reuses the artifact the cascade already built instead of
    * re-sketching the corpus per query (r17, guide §2.1). */
  def sketchSliced(docs: DataFrame, idCol: String, textCol: String,
                   numHashes: Int, n: Int = 3, estHashes: Int = 64): DataFrame = {
    val eh = math.max(estHashes, numHashes)
    val sigsE = sketchExtended(docs, idCol, textCol, eh, n)
    if (eh == numHashes) sigsE
    else sigsE.withColumn("sig", expr(s"slice(sig, 1, $numHashes)"))
  }

  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String, threshold: Double,
                   numHashes: Int = 32, bands: Int = 8, n: Int = 3,
                   estHashes: Int = 64): DataFrame = {
    val eh = math.max(estHashes, numHashes)
    val sigsE = sketchExtended(docs, idCol, textCol, eh, n)
    val sigs =
      if (eh == numHashes) sigsE
      else sigsE.withColumn("sig", expr(s"slice(sig, 1, $numHashes)"))
    val params = (idCol, textCol, threshold, numHashes, bands, n, eh)
    val pre = built(docs, ("dedup_screen", params)) {
      val cands = lshCandidates(sigs, idCol, bands)
      val minAgree = prefilterMinAgree(threshold, eh)
      (if (minAgree <= 0) cands
      else {
        val ea = sigsE.select(col(idCol).as("id_a"), col("sig").as("__ea"))
        val eb = sigsE.select(col(idCol).as("id_b"), col("sig").as("__eb"))
        // compiled agreement count (graft_sig_agree): the HOF form costs
        // ~µs/lambda × positions × candidates — more than the verify work
        // it saves at corpus scale (measured at the 1000× slice)
        cands.join(ea, "id_a").join(eb, "id_b")
          .filter(expr(s"graft_sig_agree(__ea, __eb) >= $minAgree"))
          .select("id_a", "id_b")
      }).localCheckpoint() // consumed 3× below (needed + both verify sides)
    }
    // verify-side pruning: only docs that still appear in a screened pair
    // need shingling — the corpus-wide shingle explode + shuffle was the
    // verify stage's real cost, not the per-pair intersections. The
    // semi-join side is pair-bounded (AQE broadcasts it while it fits).
    // the VERIFIED pair list is the third persisted build artifact (it is
    // exactly what a substring/minhash dedup pipeline writes next to the
    // corpus): cluster + survivors re-derive components from the same
    // pairs, and the verify join is the cascade's remaining per-query
    // wall once sketch + screen are shared. The checkpoint is pair-sized
    // (id_a, id_b, jaccard).
    built(docs, ("dedup_pairs", params)) {
      val needed = pre.select(col("id_a").as(idCol))
        .unionAll(pre.select(col("id_b").as(idCol))).distinct()
      val sh = withShinglesFast(
        docs.select(col(idCol), col(textCol)).join(needed, Seq(idCol), "left_semi"),
        textCol, n)
      val a = sh.select(col(idCol).as("id_a"), col("shingles").as("__ga"))
      val b = sh.select(col(idCol).as("id_b"), col("shingles").as("__gb"))
      pre.join(a, "id_a").join(b, "id_b")
        .withColumn("__inter", size(array_intersect(col("__ga"), col("__gb"))))
        .withColumn("jaccard",
          col("__inter").cast("double") /
            (size(col("__ga")) + size(col("__gb")) - col("__inter")))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .localCheckpoint()
    }
  }

  /** Connected components over an undirected edge list (`id_a`, `id_b`):
    * returns (id, lbl) where lbl = the component's minimum id — the
    * canonical representative for "keep one doc per near-dup cluster".
    *
    * Algorithm: distributed min-label propagation. Each round every node
    * takes the min of its own label and its neighbors' labels (one
    * shuffle-join + one hash aggregate per round); convergence in
    * O(component diameter) rounds, detected by the strictly-decreasing
    * label sum reaching a fixpoint. Near-dup clusters are shallow (dupes
    * of a common source), so rounds stay single-digit; a high-diameter
    * graph would want the large-star/small-star halving variant, which
    * drops into the same loop shape.
    *
    * Each round is `localCheckpoint`ed: the round's plan references the
    * previous round TWICE (self join + neighbor min), so without lineage
    * truncation the logical plan doubles per round and Catalyst analysis
    * goes exponential in rounds — caching alone does not help because
    * cache substitution happens after analysis. Checkpointing makes each
    * round's plan O(1); driver holds only the label-sum per round.
    * Checkpoint durability follows the session: when a reliable
    * checkpoint dir is configured (`sparkContext.setCheckpointDir`, the
    * cluster deployment shape — localCheckpoint blocks die with their
    * executor and would restart the whole iteration), rounds checkpoint
    * there; otherwise they fall back to executor-local blocks.
    */
  private def roundCheckpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .cache()
    // round 0 folded into initialization: lbl = min(id, min neighbor) in
    // the same aggregate that discovers the node set — one round fewer.
    // LAZY checkpoint: round 1's convergence aggregate materializes it —
    // no standalone action for initialization.
    var labels = roundCheckpoint(sym.groupBy(col("src").as("id"))
      .agg(least(col("src"), min(col("dst"))).as("lbl")))
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // every node appears as src in sym (symmetric closure), so the
      // neighbor-min aggregate covers the full node set: inner join, no
      // null-coalesce arm
      val neighborMin = sym
        .join(labels.select(col("id").as("dst"), col("lbl").as("nlbl")), "dst")
        .groupBy(col("src").as("id")).agg(min("nlbl").as("nmin"))
      // the convergence check rides the SAME action that materializes the
      // round's checkpoint: `chg` marks rows whose label shrank; labels
      // are non-increasing under min-propagation, so zero changes IS the
      // fixpoint (cheaper and overflow-free vs the r1–r5 decimal label
      // sum, and one job per round instead of two)
      val next = roundCheckpoint( // lazy; lineage still truncates: O(1) plan per round
        labels.join(neighborMin, Seq("id"))
          .select(col("id"), least(col("lbl"), col("nmin")).as("lbl"),
            (col("nmin") < col("lbl")).as("chg")))
      val nChanged = next.agg(sum(when(col("chg"), 1L).otherwise(0L))).head().getLong(0)
      labels.unpersist(blocking = false)
      labels = next.select("id", "lbl")
      converged = nChanged == 0L
      iter += 1
    }
    sym.unpersist(blocking = false)
    // fail loudly: an unconverged exit would silently return wrong labels.
    // Diameter > maxIters means the graph is not near-dup-shaped; callers
    // should raise maxIters or switch to connectedComponentsStar (diameter-
    // independent round count).
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: not converged after $maxIters rounds " +
        "(component diameter exceeds maxIters)")
    labels
  }

  /** Alternating large-star / small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014 —
    * public algorithm, listed in PAPERS.md): the insurance variant the r6
    * verdict asked for. Min-label propagation (`connectedComponents`,
    * still the default everywhere) needs O(component diameter) rounds —
    * right for the small, dense clusters LSH emits, wrong for
    * chain-shaped graphs where diameter can exceed any sane maxIters.
    * Star contraction instead rewires every node toward its
    * neighborhood's minimum each round:
    *
    *  - LARGE-star: each node u links its LARGER neighbors to
    *    m = min(N(u) ∪ u);
    *  - SMALL-star: u links its smaller neighbors AND ITSELF to m.
    *
    * Components collapse in O(log²) rounds regardless of diameter; the
    * fixpoint is the star graph rooted at each component's minimum id.
    * Per round: one groupBy + one join + distinct — heavier than a
    * propagation round, which is why it is the flag, not the default.
    * Convergence detection: (count, bit_xor of edge hashes) stable across
    * a round ⇒ the edge set is stable (xor is order-independent and
    * overflow-free under ANSI; edges are distinct so xor is a faithful
    * set fingerprint). Fails loudly if maxIters rounds don't converge,
    * like the default variant. Output schema: (id, lbl) — identical. */
  def connectedComponentsStar(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    def norm(df: DataFrame): DataFrame =
      df.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .distinct()
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val m = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val joined = sym.join(m, "u")
      val out =
        if (large)
          joined.filter(col("v") > col("u"))
            .select(col("m").as("src"), col("v").as("dst"))
        else
          joined.filter(col("v") < col("u"))
            .select(col("m").as("src"), col("v").as("dst"))
            .union(m.select(col("m").as("src"), col("u").as("dst")))
      norm(out)
    }
    var e = roundCheckpoint(norm(edges.select(col("id_a").as("src"), col("id_b").as("dst"))))
    var last: Option[(Long, Any)] = None
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val next = roundCheckpoint(star(star(e, large = true), large = false))
      val r = next.agg(count(lit(1)).as("c"),
        expr("bit_xor(xxhash64(src, dst))").as("h")).head()
      val chk = (r.getLong(0), r.get(1))
      converged = last.contains(chk)
      last = Some(chk)
      e.unpersist(blocking = false)
      e = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar: not converged after $maxIters rounds")
    e.select(col("dst").as("id"), col("src").as("lbl"))
      .union(e.select(col("src").as("id"), col("src").as("lbl")))
      .groupBy("id").agg(min("lbl").as("lbl"))
  }

  /** End-to-end near-dup deduplication — the one-call pipeline face over
    * the tier's components: MinHash+LSH candidates → exact Jaccard verify
    * (≥ threshold) → connected components → keep each cluster's lowest-id
    * document. Returns the surviving corpus with `docs`' schema
    * (singletons and cluster representatives). Scale: candidate
    * generation is the banding shuffle (bands×corpus, never corpus²);
    * clustering iterates only over the near-dup EDGE set (≪ corpus); the
    * final filter is one left-anti join on the id. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.8,
                  numHashes: Int = 32, bands: Int = 8, n: Int = 3,
                  estHashes: Int = 64): DataFrame = {
    val pairs = nearDupPairs(docs, idCol, textCol, threshold, numHashes, bands, n, estHashes)
    val drops = connectedComponents(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("lbl"))   // non-representatives
      .select(col("id").as("__drop"))
    docs.join(drops, col(idCol) === col("__drop"), "left_anti")
  }

  /** Banded signature index: one row per (id, band) carrying the band's
    * signature slice (the LSH bucket key) and the full signature (the
    * verify key). This is the artifact a corpus build PERSISTS next to
    * the data — ~`bands` rows × (numHashes+2) longs per doc, a fixed
    * few-hundred-bytes-per-document index regardless of document size —
    * so later ingest batches can dedup against the corpus without
    * touching the corpus text (see `incrementalDedup`). */
  def bandSigIndex(sigDf: DataFrame, idCol: String, bands: Int): DataFrame =
    sigDf.select(col(idCol).as("id"), col("sig"))
      .withColumn("band", explode(expr(s"sequence(0, $bands - 1)")))
      .withColumn("band_sig",
        expr("slice(sig, band * (size(sig) div " + bands + ") + 1, size(sig) div " + bands + ")"))

  /** Incremental dedup: screen a NEW ingest batch against an existing
    * corpus using only the corpus's persisted `bandSigIndex` — the
    * standing problem of a training-data pipeline, where re-running
    * full-corpus dedup per arriving batch is O(corpus) each time.
    *
    * Work is O(batch bands + bucket collisions): the batch is sketched
    * and banded (one codegen'd pass), bucket-joined against the index on
    * (band, band_sig) — Spark broadcasts the small batch side against
    * the corpus-sized index, so the index itself never shuffles — and
    * candidates are verified by signature agreement (estimated Jaccard =
    * matching hash fraction, the standard signature-only verify when the
    * corpus text is out of reach; exact-Jaccard re-verification of the
    * few survivors is a bounded point-lookup a caller can layer on).
    * Within-batch duplicates resolve first-writer-wins (smaller id
    * survives). Ids must be unique across corpus ∪ batch.
    *
    * Returns one row per batch doc: (idCol, n_corpus_dup, n_batch_dup,
    * keep) where keep = 1 iff the doc matched nothing in the corpus and
    * no earlier doc in its own batch. Docs too short to shingle sketch
    * nothing and keep = 1, matching full-corpus `dedupCorpus` behavior. */
  def incrementalDedup(corpusIndex: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       estThreshold: Double = 0.5,
                       numHashes: Int = 8, bands: Int = 4, n: Int = 3): DataFrame = {
    val bsig = minHashFromText(batch.select(col(idCol), col(textCol)), textCol, numHashes, n)
    val bBands = bandSigIndex(bsig, idCol, bands)
      .select(col("id").as("bid"), col("band"), col("band_sig"))
    val corpusCand = bBands
      .join(corpusIndex.select(col("id").as("cid"), col("band"), col("band_sig")),
        Seq("band", "band_sig"))
      .select("bid", "cid").distinct()
      .withColumn("is_corpus", lit(true))
    val batchCand = bBands
      .join(bBands.select(col("bid").as("cid"), col("band"), col("band_sig")),
        Seq("band", "band_sig"))
      .filter(col("cid") < col("bid"))
      .select("bid", "cid").distinct()
      .withColumn("is_corpus", lit(false))
    // sig lookups: batch sigs for bid; band-0 index rows give one
    // (id, sig) row per corpus doc without a corpus-wide distinct
    val bidSigs = bsig.select(col(idCol).as("bid"), col("sig").as("__bs"))
    val cidSigs = corpusIndex.filter(col("band") === 0)
      .select(col("id").as("cid"), col("sig").as("__cs"))
      .unionByName(bsig.select(col(idCol).as("cid"), col("sig").as("__cs")))
    val hits = corpusCand.unionByName(batchCand)
      .join(bidSigs, "bid").join(cidSigs, "cid")
      .withColumn("__agree", expr(
        s"size(filter(sequence(0, ${numHashes - 1}), i -> element_at(__bs, i+1) = element_at(__cs, i+1)))"))
      .filter(col("__agree").cast("double") / lit(numHashes.toDouble) >= estThreshold)
      .groupBy("bid")
      .agg(
        sum(when(col("is_corpus"), 1L).otherwise(0L)).as("__nc"),
        sum(when(col("is_corpus"), 0L).otherwise(1L)).as("__nb"))
    batch.select(col(idCol))
      .join(hits, col(idCol) === col("bid"), "left")
      .select(col(idCol),
        coalesce(col("__nc"), lit(0L)).as("n_corpus_dup"),
        coalesce(col("__nb"), lit(0L)).as("n_batch_dup"))
      .withColumn("keep",
        when(col("n_corpus_dup") === 0 && col("n_batch_dup") === 0, 1L).otherwise(0L))
  }

  /** 60-bit SimHash of the distinct-token set, as a bit array column
    * `simhash_bits` (index 0 = lowest bit). */
  def simhashBits(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__th", expr(
        s"transform(array_distinct(split($textCol, ' ')), x -> ${h60("'s'", "x")})"))
      .withColumn("simhash_bits", expr(
        "transform(sequence(0, 59), b -> if(aggregate(__th, 0, (acc, h) -> acc + if((shiftright(h, b) & 1) = 1, 1, -1)) > 0, 1, 0))"))
      .drop("__th")

  /** Pigeonhole blocking: 4 × 15-bit blocks of the simhash. Pairs within
    * hamming ≤ 3 agree on ≥ 1 block, so an equi-join per block finds them
    * without a quadratic comparison. */
  def simhashBlocks(df: DataFrame): DataFrame =
    df.withColumn("block", explode(expr(
      "transform(sequence(0, 3), blk -> struct(blk as block_id, " +
        "aggregate(slice(simhash_bits, blk * 15 + 1, 15), 0L, (acc, bit) -> acc * 2 + bit) as block_val))")))
      .select(col("*"), col("block.block_id"), col("block.block_val"))
      .drop("block")
}
