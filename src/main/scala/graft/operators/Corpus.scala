package graft.operators

import graft.{ArtifactStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-management tier for the training-data pipeline: dataset
  * profiling, blocked fuzzy matching, inverted-index search, and the two
  * canonical sequence-packing strategies (concat-and-chunk, greedy
  * no-split bins) a pretraining data loader needs.
  *
  * Everything here follows the repo determinism contract (SURVEY §2.0):
  * token counts are exact integers from the shared whitespace split
  * (`split(text, ' ')` ≡ DuckDB `string_split`), ratios divide exact
  * integer sums, doubles are rounded through [[Num.roundd]].
  *
  * Scale notes per operator are on each member; the common theme is that
  * packing and profiling are single-scan / single-shuffle per language
  * shard, never a global sort: partitioning by `lang` is the stand-in for
  * the per-shard parallelism a 100 TB corpus run would use (thousands of
  * shards, each packed independently — the global-order variant of packing
  * is embarrassingly NOT parallel, which is why production packers always
  * work per shard).
  */
object Corpus {
  type Q = (SparkSession, String) => DataFrame

  /** Whitespace token count, identical to q_text_tokencount's ws_tokens.
    * NULL text is coalesced to '' (1 token on both engines) so tok >= 1
    * always holds: Spark's legacy sizeOfNull would return -1 where DuckDB
    * returns NULL, and a non-positive tok would flip sequence() into a
    * descending range while DuckDB range() is empty — the contract is
    * pinned here instead of left to the data. */
  private val tokCount =
    size(split(coalesce(col("text"), lit("")), " ")).cast("long")

  // ---- dataset profiling --------------------------------------------------

  /** Per-column profile of `documents`: non-null count, exact distinct
    * count, min/max (rendered as strings so the profile has one schema for
    * every column type) — the data-quality report a pipeline runs before
    * and after every transformation to catch schema drift and null storms.
    *
    * ONE scan: Spark plans the five exact count-distincts as a single
    * Expand (5× row multiplier, map-side partial aggs), not five scans.
    * At 100 TB the same shape runs with `approx_count_distinct` (HLL,
    * no Expand) — exact distincts are kept here because the oracle gate
    * needs exact equality; both forms share this plan skeleton.
    */
  val qProfileStats: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    }
    val wide = doc.agg(aggs.head, aggs.tail: _*)
    val stack = cols.map(c =>
      s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    wide.select(col("n_rows"),
      expr(s"stack(${cols.size}, $stack) as (col, n_nonnull, n_distinct, min_s, max_s)"))
      .select("col", "n_rows", "n_nonnull", "n_distinct", "min_s", "max_s")
      .orderBy("col")
  }

  // ---- blocked fuzzy matching --------------------------------------------

  /** Edit-distance screen over BLOCKED candidate pairs: consecutive docs
    * within each language (the deterministic stand-in for any blocking
    * key), Levenshtein on a 32-char prefix so per-pair cost is bounded at
    * 32² regardless of document length. Emits the distance and the
    * normalized similarity dedup pipelines threshold on.
    *
    * Scale: pairing is a window `lead` inside the lang shuffle — one
    * shuffle, one pair per doc, never all-pairs. The capped prefix is the
    * standard trick that keeps fuzzy verification O(1) per candidate;
    * `levenshtein` is a codegen'd native expression in both engines.
    */
  val qTextEditdist: Q = (s, d) => {
    val w = Window.partitionBy("lang").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), substring(col("text"), 1, 32).as("t"))
      .withColumn("next_id", lead("doc_id", 1).over(w))
      .withColumn("next_t", lead("t", 1).over(w))
      .filter(col("next_id").isNotNull)
      .select(col("lang"), col("doc_id").as("id_a"), col("next_id").as("id_b"),
        levenshtein(col("t"), col("next_t")).cast("long").as("dist"),
        // divisor floored at 1: two empty prefixes would divide by zero,
        // where Spark yields NULL but DuckDB's float semantics vary by
        // version — the guard makes the edge case identical (sim = 1.0)
        Num.roundd(lit(1.0) -
          levenshtein(col("t"), col("next_t")).cast("double") /
            greatest(length(col("t")), length(col("next_t")), lit(1)), 4).as("sim"))
      .orderBy("id_a")
  }

  // ---- inverted-index term search ----------------------------------------

  /** Boolean-AND term search through an inverted index: tokenize once,
    * take the corpus's two most frequent tokens as the query (determined
    * by the data, so the query is reproducible in the oracle), and return
    * the docs containing BOTH, ranked by summed term frequency — the read
    * path of a posting-list index (term → (doc, tf)).
    *
    * Scale: ONE tokenize pass builds the (doc, term, tf) postings; the
    * query terms arrive as a broadcast 2-row dim, so the AND is a
    * conditional aggregate over one shuffle of postings — at 100 TB the
    * postings table is the thing you persist (partitioned by term bucket)
    * and this query prunes to the probed terms' partitions.
    */
  val qTextSearch: Q = (s, d) => {
    val postings = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    // top-2 terms via TakeOrdered (orderBy+limit — distributed heads),
    // rank assigned over the 2-ROW result: the previous global
    // row_number ranked the whole vocabulary on one task
    val top2 = postings.groupBy("w").agg(sum("tf").as("cnt"))
      .orderBy(desc("cnt"), asc("w")).limit(2)
      .withColumn("qi", row_number().over(Window.orderBy(desc("cnt"), asc("w"))))
      .select(col("w").as("qw"), col("qi"))
    postings.join(broadcast(top2), col("w") === col("qw"))
      .groupBy("doc_id")
      .agg(sum(when(col("qi") === 1, col("tf")).otherwise(0L)).as("tf1"),
        sum(when(col("qi") === 2, col("tf")).otherwise(0L)).as("tf2"))
      .filter(col("tf1") > 0 && col("tf2") > 0)
      .withColumn("score", col("tf1") + col("tf2"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  // ---- sequence packing: concat-and-chunk --------------------------------

  /** Concat-and-chunk sequence packing (the GPT-style pretraining packer):
    * per language shard, documents concatenate in doc_id order into one
    * token stream cut every L=512 tokens; a document whose span crosses a
    * cut lands in several sequences. Emits the per-sequence load report —
    * docs touching the sequence, docs starting in it, and its token fill
    * (== L everywhere but the shard's tail) — the stats a data loader
    * checks before training.
    *
    * Scale: the running token offset is a window sum PARTITIONED BY lang
    * (per-shard sequentiality, cross-shard parallelism — the way real
    * packers shard); span explosion adds ≤ spans-per-doc rows (docs ≫ L
    * tokens are rare), then one hash agg. No global sort anywhere.
    */
  val qDocsSeqPack: Q = (s, d) => {
    val L = 512L
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val wl = Window.partitionBy("lang")
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), tokCount.as("tok"))
      .withColumn("off_end", sum("tok").over(w))
      .withColumn("lang_total", sum("tok").over(wl))
      // `div` keeps the arithmetic in exact long integer division; `/`
      // would promote through double and lose exactness past 2^53 —
      // cumulative token offsets at 100 TB exceed that
      .withColumn("seq_first", expr(s"(off_end - tok) div ${L}L"))
      .withColumn("seq_last", expr(s"(off_end - 1) div ${L}L"))
      .select(col("lang"), col("doc_id"), col("lang_total"), col("seq_first"),
        explode(expr("sequence(seq_first, seq_last)")).as("seq_id"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("seq_first") === col("seq_id"), 1L).otherwise(0L)).as("n_starts"),
        least(lit(L), max(col("lang_total")) - col("seq_id") * L).as("fill"))
      .orderBy("lang", "seq_id")
  }

  // ---- sequence packing: greedy no-split bins ----------------------------

  /** Greedy next-fit bin packing (the no-split packer for SFT-style data
    * where documents must not fragment): per language shard in doc_id
    * order, a document joins the open bin if it fits under C=1024 tokens,
    * else opens a new bin; oversized docs get a bin of their own. Emits
    * the per-bin report (docs, tokens, utilization) that tells you how
    * much padding the batch geometry wastes.
    *
    * The bin assignment is a sequential recurrence (fill resets on
    * overflow), so it uses the same chunked-fold machinery as Holt/EWMA: a
    * codegen'd `aggregate` over the shard's (doc_id, tok) list builds the
    * assignment in one pass. State is O(shard docs) — the per-shard bound
    * that holds because packers shard BEFORE packing (a shard is a few
    * thousand docs at any scale); the oracle is an independent recursive
    * CTE, making this a cross-algorithm check like q_ts_gaps.
    */
  val qDocsPackGreedy: Q = (s, d) => {
    val C = 1024L
    // r17: the fold runs in the native graft_pack_bins generator, which
    // emits per-BIN rows straight off the sorted shard list. The previous
    // declarative aggregate built its assignment with concat(out,
    // array(x)) — O(n²) struct copies per shard — then EXPLODED per-doc
    // rows into a corpus-sized re-aggregation (the hash aggregate pair
    // rode the existing lang partitioning — row volume + hash table,
    // not a new exchange) just to re-group rows that are contiguous
    // runs of the fold (bins are runs by construction; byte-parity
    // pinned in FunctionsSpec).
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), tokCount.as("tok"))
      .groupBy("lang")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tok")))).as("ds"))
      .select(col("lang"), expr(s"graft_pack_bins(ds, ${C}L)"))
      .select(col("lang"), col("bin"), col("n_docs"), col("tokens"),
        Num.roundd(col("tokens").cast("double") / C, 4).as("util"))
      .orderBy("lang", "bin")
  }

  // ---- shard routing ------------------------------------------------------

  /** Token-balanced shard-routing report: every document is routed to one
    * of S=16 output shards by the deterministic 60-bit md5 hash of its
    * doc_id (the same seeded hash family as the sampling/minhash tier, so
    * placement is reproducible across engines and reshuffles). Emits the
    * per-shard load report — docs, tokens, distinct sources, and the skew
    * ratio tokens·S/total that tells you whether hash routing balanced the
    * token budget (≈1.0 everywhere when it did).
    *
    * Scale: this is THE pre-write step of a sharded corpus export
    * (`.repartition(S, shard)` + partitioned write); the report is one
    * hash agg over the scan, and the global total re-enters as a broadcast
    * 1-row dim rather than an unpartitioned window, so nothing serializes.
    */
  val qDocsShardAssign: Q = (s, d) => {
    val S = 16L
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokCount.as("tok"))
      .withColumn("shard", expr(s"pmod(${Dedup.h60("'shard'", "cast(doc_id as string)")}, $S)"))
    val perShard = t.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"),
        countDistinct("source").as("n_sources"))
    val total = perShard.agg(sum("tokens").as("total"))
    perShard.crossJoin(broadcast(total))
      .select(col("shard"), col("n_docs"), col("tokens"), col("n_sources"),
        Num.roundd(col("tokens") * S / col("total"), 4).as("skew"))
      .orderBy("shard")
  }

  // ---- train/val/test split -----------------------------------------------

  /** Deterministic 90/5/5 train/val/test split report: membership is a
    * pure function of doc_id (seeded md5 hash mod 100 → <90 train, <95
    * val, else test), so the split is reproducible from the raw corpus
    * alone — no persisted assignment table, no RNG state, stable under
    * reshuffles and re-runs, and disjoint/exhaustive by construction.
    * Emits docs and tokens per (split, lang), the table you check before
    * training to confirm the held-out sets aren't skewed by language.
    *
    * Scale: one scan, one hash agg; the split column is a codegen'd
    * expression over doc_id, so adding it to a 100 TB write is free. */
  val qDocsSplit: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), tokCount.as("tok"),
        expr(s"pmod(${Dedup.h60("'split'", "cast(doc_id as string)")}, 100)").as("hmod"))
      .withColumn("split",
        when(col("hmod") < 90, "train").when(col("hmod") < 95, "val").otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"))
      .orderBy("split", "lang")

  // ---- sequence-length distribution ---------------------------------------

  /** Token-length distribution per source: exact interpolated p50/p90/p99
    * plus max — the report that decides the packing length L and flags
    * sources whose length profile shifted between crawls. Percentiles use
    * the exact linear-interpolation definition on BOTH engines (Spark
    * `percentile` ≡ DuckDB `quantile_cont`), rounded through the repo's
    * DuckDB-mimic rounding, so the report is hash-gated, not approximate.
    *
    * Scale: `percentile` is an exact sort-based aggregate — per SOURCE
    * group here, so state is one group's values, not the corpus; at
    * 100 TB the same report swaps in the mergeable t-digest tier
    * (graft_tdigest) when per-group exactness stops being worth the sort. */
  val qDocsLengthDist: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), tokCount.as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        Num.roundd(expr("percentile(tok, 0.5d)"), 4).as("p50"),
        Num.roundd(expr("percentile(tok, 0.9d)"), 4).as("p90"),
        Num.roundd(expr("percentile(tok, 0.99d)"), 4).as("p99"),
        max("tok").as("mx"))
      .orderBy("source")

  // ---- provenance overlap -------------------------------------------------

  /** Cross-source duplication matrix over a blocking fingerprint: two
    * sources are linked for every 16-char text prefix they share (the
    * prefix is the deterministic stand-in for a near-dup blocking key —
    * at 100 TB you'd use the MinHash band keys from the LSH tier, which
    * have exactly this (key, source) shape). The report — shared
    * fingerprints per source pair — is how a pipeline finds mirror sites
    * and re-crawled corpora BEFORE paying for pairwise verification.
    *
    * Scale: distinct (fingerprint, source) pairs first (one hash agg that
    * collapses within-source repeats), then a self-join keyed on the
    * fingerprint — the shuffle is by fingerprint, and the per-key fanout
    * is bounded by the number of SOURCES sharing it (≤20 here), never by
    * document multiplicity.
    */
  val qSourceOverlap: Q = (s, d) => {
    val fp = Tables.documents(s, d)
      .select(substring(col("text"), 1, 16).as("h"), col("source"))
      .distinct()
    fp.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(countDistinct(col("a.h")).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  // ---- deterministic epoch shuffle ----------------------------------------

  /** Training-order shuffle, reproducibly: every document ranks by the
    * seeded 60-bit md5 hash of its doc_id ('epoch0' is the seed — a new
    * epoch reshuffles by changing it), and the query returns the first 100
    * positions of that order. The shuffle is a pure function of the corpus
    * (no RNG state, identical across engines and re-runs), which is what
    * makes a training run resumable and auditable.
    *
    * Scale: the head-of-order probe is `orderBy(h).limit(k)` →
    * TakeOrderedAndProject (per-partition top-k + merge, never a global
    * sort); position numbering happens on the k-row result. A full-corpus
    * epoch export instead writes `repartition(shards, h)` + per-shard
    * sort — the same hash, no global order needed. */
  val qDocsShuffle: Q = (s, d) => {
    val top = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        expr(Dedup.h60("'epoch0'", "cast(doc_id as string)")).as("h"))
      .orderBy("h", "doc_id")
      .limit(100)
    top.withColumn("pos",
        row_number().over(Window.orderBy("h", "doc_id")).cast("long"))
      .select("pos", "doc_id", "lang", "h")
      .orderBy("pos")
  }

  // ---- per-source token budget cap ----------------------------------------

  /** Source-contribution cap: each source contributes documents in doc_id
    * (arrival) order only while its cumulative token count stays within a
    * B=1000-token budget — the guard that stops one giant crawl from
    * dominating the training mix (the hard-cap sibling of the temperature
    * sampler in q_docs_temp_sample). Emits the kept/dropped doc and token
    * tallies per source.
    *
    * Scale: one window cumsum inside the source shuffle, one hash agg.
    * The cut is a pure function of (source, doc_id) order, so re-runs and
    * backfills make the same decision without a persisted assignment. */
  val qDocsBudgetCap: Q = (s, d) => {
    val B = 1000L
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), tokCount.as("tok"))
      .withColumn("kept", (sum("tok").over(w) <= B).cast("long"))
      .groupBy("source")
      .agg(sum(col("kept")).as("n_kept"),
        sum(col("kept") * col("tok")).as("tok_kept"),
        sum(lit(1L) - col("kept")).as("n_drop"),
        sum((lit(1L) - col("kept")) * col("tok")).as("tok_drop"))
      .orderBy("source")
  }

  // ---- BM25 ranking --------------------------------------------------------

  /** BM25 ranking (k1=1.2, b=0.75) for the same data-determined two-term
    * query as q_text_search, OR semantics: idf-weighted, length-normalized
    * term frequency — the scoring function behind every classical
    * full-text retrieval stack, upgrading q_text_search's raw-tf rank.
    *
    * Determinism: idf and each term's contribution are pre-rounded to 6
    * decimals before the two-term sum (two-value double addition is
    * order-insensitive), final score re-rounded; ranking orders by the
    * ROUNDED score so both engines agree on the top-k boundary.
    *
    * Scale: postings build in one tokenize pass; query terms and the
    * (N, total-length) stats ride in as broadcast 1–2 row dims; the only
    * shuffles are the postings aggregates. At 100 TB the postings and
    * doc-length tables are what you persist; this query then prunes to the
    * probed terms' partitions. */
  val qTextBm25: Q = (s, d) => {
    val k1 = 1.2
    // r17: one tokenize pass, not four — postings feeds dl, the corpus
    // stats, the query-term head AND the scoring join; without
    // materialization each consumer re-ran the explode+aggregate
    // (plans/r17/text_bm25_before: the subtree appears 4x, zero reuse —
    // column pruning differentiates the exchanges so ReuseExchange can't
    // fire). The checkpoint is the postings index itself — distinct
    // (doc, term) rows, the object a search pipeline persists at ingest.
    val postings = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .transform(ArtifactStore.rotate("bm25_postings"))
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
    // TakeOrdered head + 2-row rank — not a vocabulary-wide global window
    val terms = postings.groupBy("w")
      .agg(sum("tf").as("cnt"), count(lit(1)).as("df"))
      .orderBy(desc("cnt"), asc("w")).limit(2)
      .select(col("w").as("qw"), col("df"))
    postings.join(broadcast(terms), col("w") === col("qw"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sdl").cast("double") / col("n"))
      .withColumn("idf", Num.roundd(log(
        ((col("n") - col("df")).cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0), 6))
      .withColumn("contrib", Num.roundd(
        col("idf") * (col("tf").cast("double") * 2.2) /
          (col("tf").cast("double") +
            lit(k1) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))), 6))
      .groupBy("doc_id")
      .agg(Num.roundd(sum("contrib"), 6).as("score"), count(lit(1)).as("n_terms"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  // ---- RAG chunking --------------------------------------------------------

  /** Overlapping-window chunking report (the RAG indexing step): documents
    * split into W=128-token windows advancing by stride S=96 (32-token
    * overlap so no boundary context is lost); a ≤W-token document is one
    * chunk. Emits the per-source chunking bill: documents, chunks, chunk
    * tokens, and the overlap overhead the stride re-embeds.
    *
    * Scale: chunk count is closed-form integer arithmetic per row
    * (`1 + ceil((tok-W)/S)` via exact `div`), the span explode fans out
    * ≤ chunks-per-doc rows, then one hash agg — the same bounded-fanout
    * shape as q_docs_seq_pack, no window functions at all. */
  val qDocsChunks: Q = (s, d) => {
    val W = 128L; val S = 96L
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), tokCount.as("tok"))
      .withColumn("nc", when(col("tok") <= W, 1L)
        .otherwise(lit(1L) + expr(s"(tok - ${W}L + ${S}L - 1L) div ${S}L")))
      .select(col("source"), col("doc_id"), col("tok"),
        explode(expr("sequence(0L, nc - 1L)")).as("i"))
      .withColumn("ctok", least(lit(W), col("tok") - col("i") * S))
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("ctok").as("chunk_tok"),
        sum(when(col("i") === 0, col("tok")).otherwise(0L)).as("doc_tok"))
      .select(col("source"), col("n_docs"), col("n_chunks"), col("chunk_tok"),
        (col("chunk_tok") - col("doc_tok")).as("overhead"),
        Num.roundd((col("chunk_tok") - col("doc_tok")).cast("double") / col("doc_tok"), 6)
          .as("overhead_ratio"))
      .orderBy("source")
  }

  // ---- Zipf profile --------------------------------------------------------

  /** Vocabulary Zipf profile per language: least-squares slope and
    * intercept of ln(freq) over ln(rank) across the top-50 terms — the
    * corpus-health diagnostic that flags template/boilerplate floods
    * (slope far from ≈ −1) and vocabulary collapse after aggressive
    * filtering. Natural text tracks freq ∝ rank^slope with slope near −1;
    * machine-generated spam doesn't.
    *
    * Determinism follows the q_ts_deriv discipline: ln terms pre-rounded
    * to 6 dp on exact integer (rank, count) inputs, moment sums reduced in
    * one hash agg, final slope/intercept rounded to 4 dp (the double
    * summation-order jitter is ~1e-13, absorbed by the rounding). Scale:
    * one tokenize pass, the per-lang top-50 is a window inside the lang
    * shuffle, the regression is a 50-row-per-group aggregate. */
  val qTextZipf: Q = (s, d) => {
    val w = Window.partitionBy("lang").orderBy(desc("cnt"), asc("w"))
    Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 50)
      .select(col("lang"),
        Num.roundd(log(col("rk").cast("double")), 6).as("x"),
        Num.roundd(log(col("cnt").cast("double")), 6).as("y"))
      .groupBy("lang")
      .agg(count(lit(1)).cast("double").as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n").cast("long").as("n_terms"),
        Num.roundd((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
        Num.roundd((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 4)
          .as("intercept"))
      .orderBy("lang")
  }

  // ---- source-stratified interleave ---------------------------------------

  /** Round-robin source interleave (the tf.data / torchdata
    * `sample_from_datasets` order, deterministically): documents order by
    * (within-source rank, source), so consecutive positions cycle through
    * every source that still has documents — the training-order mix that
    * prevents a single source from forming long homogeneous runs. Returns
    * the first 100 positions of the interleaved order.
    *
    * Scale: the within-source rank is a window inside the source shuffle;
    * the head-of-order probe is TakeOrdered top-k on (rk, source), never
    * a global sort — a full epoch export instead writes the corpus
    * hash-sharded with (rk, source) as the per-shard sort key. */
  val qDocsInterleave: Q = (s, d) => {
    val w = Window.partitionBy("source").orderBy("doc_id")
    val top = Tables.documents(s, d)
      .select(col("source"), col("doc_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .orderBy("rk", "source")
      .limit(100)
    top.withColumn("pos",
        row_number().over(Window.orderBy("rk", "source")).cast("long"))
      .select("pos", "source", "doc_id", "rk")
      .orderBy("pos")
  }

  // ---- decontamination ----------------------------------------------------

  /** Decontaminated-train-corpus checksum: the enforcement half of
    * q_text_contamination — any train document (source != 'src0') sharing
    * at least one word-8-gram with the eval set (source = 'src0') is
    * dropped, and the survivors are checksummed per language (count,
    * doc_id sum, token sum) so the gate proves the FILTER, not just the
    * overlap report. Documents under 8 words carry no 8-grams and survive
    * by definition.
    *
    * Scale: same n-gram × corpus shuffle as the contamination report
    * (never corpus²); the contaminated-id set is small (overlap is rare by
    * construction at any scale), and the final anti-join streams the
    * corpus past it. */
  val qTextDecontaminate: Q = (s, d) => {
    // r17: the 64-bit gram-hash shuffle diet (the q_text_substring_dup
    // device) applied to the contamination screen — graft_doc_grams
    // emits each doc's DISTINCT 8-gram h60 hashes straight off the raw
    // bytes (h60('sd', array_join(slice(w,i,8),' ')) per the pinned
    // byte-parity fixtures), so the interpreted array_join gram build,
    // the per-position explode AND its array_distinct are gone, and the
    // eval⋈train overlap joins 8-byte hashes instead of ~60-byte strings.
    // Same-text grams hash equal on both sides by construction; a 60-bit
    // CROSS-collision (a train gram aliasing a DIFFERENT eval gram) would
    // spuriously drop one doc — ~|train grams|·|eval grams|/2^60, absent
    // from every checked corpus (oracle joins the strings; the hash gate
    // stays green at sf0.001/0.01/0.1), same discipline as substring_dup.
    graft.functions.GraftFunctions.register(s)
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), expr("graft_doc_grams(text, 8, 'sd')"))
    val evalNg = grams.filter(col("source") === "src0").select("gh").distinct()
    val contaminated = grams.filter(col("source") =!= "src0")
      .join(evalNg, "gh").select("doc_id").distinct()
    Tables.documents(s, d).filter(col("source") =!= "src0")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
        sum(tokCount).as("tokens"))
      .orderBy("lang")
  }

  /** Cross-document repeated 8-gram report — the exact-substring-dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): word 8-grams occurring in ≥ 2 distinct documents,
    * ranked by spread. Production substring dedup removes these spans;
    * the report is the audit view of the same index.
    *
    * Scale shape (r16 — the documented 64-bit shuffle diet, landed):
    * shingling is a per-row generator (≤ tokens−7 grams per doc — linear
    * in corpus tokens, like the MinHash shingle stage), but the grams
    * enter BOTH aggregate levels as the 60-bit md5 hash ([[Dedup.h60]],
    * mirrored verbatim in the oracle), so the big shuffle carries
    * 16-byte (hash, doc) rows instead of ~60-byte gram strings. The ≤50
    * winning gram TEXTS are recovered by a second pass over ONLY the
    * docs that contain a winner (each winner carries min(doc_id); the
    * id filter pushes into the scan), after a TakeOrdered(50) picks the
    * (n_docs, n_occur) threshold and the tie-inclusive superset collects
    * under a loud 100k bound. A 60-bit collision would merge two grams'
    * counts in both engines alike; the recovered text is then min(gram)
    * within the winner's min-doc (oracle: global min) — divergence needs
    * a collision among winners, ~2⁻⁶¹·|grams|² and caught loudly by the
    * hash gate if it ever fired. */
  /** The corpus-sized half of [[qTextSubstringDup]]: graft_doc_grams
    * performs the (gh, doc) level INSIDE the generator (distinct grams
    * with in-doc counts, h60 of the raw byte range — no array_join
    * string build, no per-position row, and the level-1 exchange is
    * GONE), so the only shuffle is the (gh) aggregate, at one 24-byte
    * row per distinct (doc, gram). PlanSpec pins this plan join-free
    * and single-exchange. */
  private[graft] def substringDupLvl2(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"), expr("graft_doc_grams(text, 8, 'sd')"))
      .groupBy("gh")
      .agg(count(lit(1)).as("n_docs"), sum("cnt").as("n_occur"),
        min("doc_id").as("d0"))
      .filter(col("n_docs") >= 2)
  }

  val qTextSubstringDup: Q = (s, d) => {
    val gh = Dedup.h60("'sd'", "array_join(slice(tk, i, 8), ' ')")
    def grams(base: DataFrame) = base
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("tk"))
      .filter(size(col("tk")) >= 8)
    val lvl2 = substringDupLvl2(Tables.documents(s, d))
    // ONE TakeOrdered decides the tie-inclusive top-50 superset in the
    // common case: collect a 4096-row head; unless the 4096th row still
    // ties the 50th's (n_docs, n_occur) — pathological tie mass — the
    // boundary group is fully inside the head and the superset cuts
    // driver-side. The rare fallback pays a second full pass (no persist:
    // caching lvl2 for a branch that almost never runs costs more than
    // the branch).
    val win = {
      val head = lvl2.orderBy(col("n_docs").desc, col("n_occur").desc)
        .limit(4096).collect()
      if (head.length <= 50) head
      else {
        val i = math.min(50, head.length) - 1
        val (tn, to) = (head(i).getLong(1), head(i).getLong(2))
        def ties(r: org.apache.spark.sql.Row) =
          r.getLong(1) > tn || (r.getLong(1) == tn && r.getLong(2) >= to)
        if (head.length < 4096 || !ties(head.last)) head.takeWhile(ties)
        else {
          val sup = lvl2.filter(col("n_docs") > tn ||
            (col("n_docs") === tn && col("n_occur") >= to)).collect()
          require(sup.length <= 100000,
            s"qTextSubstringDup: ${sup.length} grams tie into the top-50 " +
              "boundary — exceeds the driver manifest bound")
          sup
        }
      }
    }
    import s.implicits._
    if (win.isEmpty) Seq.empty[(String, Long, Long)].toDF("gram", "n_docs", "n_occur")
    else {
      val winDf = win.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toDF("gh", "n_docs", "n_occur")
      val rep = grams(Tables.documents(s, d)
          .filter(col("doc_id").isInCollection(win.map(_.getLong(3)).distinct.toSeq)))
        .select(explode(expr(
          s"transform(sequence(1, size(tk) - 7), i -> struct($gh AS gh, array_join(slice(tk, i, 8), ' ') AS gram))")).as("e"))
        .filter(col("e.gh").isInCollection(win.map(_.getLong(0)).toSeq))
        .groupBy(col("e.gh").as("gh")).agg(min(col("e.gram")).as("gram"))
      rep.join(broadcast(winDf), "gh")
        .select("gram", "n_docs", "n_occur")
        .orderBy(col("n_docs").desc, col("n_occur").desc, col("gram"))
        .limit(50)
    }
  }

  // ---- catalog ------------------------------------------------------------

  val all: Seq[(String, Q, Option[String])] = Seq(
    ("q_text_substring_dup", qTextSubstringDup, Some(
      "WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') tk FROM documents), " +
        "g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))) gram " +
        "FROM t WHERE len(tk) >= 8), " +
        "h AS (SELECT doc_id, gram, CAST('0x' || substr(md5('sd' || ':' || gram), 1, 15) AS BIGINT) gh FROM g), " +
        "l1 AS (SELECT gh, doc_id, CAST(count(*) AS BIGINT) n FROM h GROUP BY 1, 2), " +
        "l2 AS (SELECT gh, CAST(count(*) AS BIGINT) n_docs, CAST(sum(n) AS BIGINT) n_occur " +
        "FROM l1 GROUP BY 1 HAVING count(*) >= 2), " +
        "rep AS (SELECT gh, min(gram) gram FROM h GROUP BY 1) " +
        "SELECT rep.gram, n_docs, n_occur FROM l2 JOIN rep USING (gh) " +
        "ORDER BY n_docs DESC, n_occur DESC, gram LIMIT 50")),
    ("q_profile_stats", qProfileStats, Some(
      "WITH a AS (SELECT count(*) n_rows, " +
        "count(doc_id) nn1, count(DISTINCT doc_id) nd1, CAST(min(doc_id) AS VARCHAR) mn1, CAST(max(doc_id) AS VARCHAR) mx1, " +
        "count(text) nn2, count(DISTINCT text) nd2, CAST(min(text) AS VARCHAR) mn2, CAST(max(text) AS VARCHAR) mx2, " +
        "count(lang) nn3, count(DISTINCT lang) nd3, CAST(min(lang) AS VARCHAR) mn3, CAST(max(lang) AS VARCHAR) mx3, " +
        "count(source) nn4, count(DISTINCT source) nd4, CAST(min(source) AS VARCHAR) mn4, CAST(max(source) AS VARCHAR) mx4, " +
        "count(n_chars) nn5, count(DISTINCT n_chars) nd5, CAST(min(n_chars) AS VARCHAR) mn5, CAST(max(n_chars) AS VARCHAR) mx5 " +
        "FROM documents) " +
        "SELECT col, n_rows, n_nonnull, n_distinct, min_s, max_s FROM (" +
        "SELECT 'doc_id' col, n_rows, nn1 n_nonnull, nd1 n_distinct, mn1 min_s, mx1 max_s FROM a UNION ALL " +
        "SELECT 'text', n_rows, nn2, nd2, mn2, mx2 FROM a UNION ALL " +
        "SELECT 'lang', n_rows, nn3, nd3, mn3, mx3 FROM a UNION ALL " +
        "SELECT 'source', n_rows, nn4, nd4, mn4, mx4 FROM a UNION ALL " +
        "SELECT 'n_chars', n_rows, nn5, nd5, mn5, mx5 FROM a) ORDER BY col")),
    ("q_text_editdist", qTextEditdist, Some(
      "WITH t AS (SELECT doc_id, lang, substr(text, 1, 32) t, " +
        "lead(doc_id) OVER (PARTITION BY lang ORDER BY doc_id) next_id, " +
        "lead(substr(text, 1, 32)) OVER (PARTITION BY lang ORDER BY doc_id) next_t FROM documents) " +
        "SELECT lang, doc_id id_a, next_id id_b, CAST(levenshtein(t, next_t) AS BIGINT) dist, " +
        "round(1.0 - levenshtein(t, next_t) / CAST(greatest(length(t), length(next_t), 1) AS DOUBLE), 4) sim " +
        "FROM t WHERE next_id IS NOT NULL ORDER BY id_a")),
    ("q_text_search", qTextSearch, Some(
      "WITH p AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents) WHERE w != '' GROUP BY 1, 2), " +
        "top2 AS (SELECT w qw, row_number() OVER (ORDER BY cnt DESC, qw ASC) qi FROM " +
        "(SELECT w, sum(tf) cnt FROM p GROUP BY 1) ORDER BY cnt DESC, qw ASC LIMIT 2), " +
        "hits AS (SELECT doc_id, CAST(sum(CASE WHEN qi = 1 THEN tf ELSE 0 END) AS BIGINT) tf1, " +
        "CAST(sum(CASE WHEN qi = 2 THEN tf ELSE 0 END) AS BIGINT) tf2 " +
        "FROM p JOIN top2 ON p.w = top2.qw GROUP BY 1) " +
        "SELECT doc_id, tf1, tf2, CAST(tf1 + tf2 AS BIGINT) score FROM hits WHERE tf1 > 0 AND tf2 > 0 " +
        "ORDER BY score DESC, doc_id ASC LIMIT 20")),
    ("q_docs_seq_pack", qDocsSeqPack, Some(
      "WITH t AS (SELECT lang, doc_id, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok FROM documents), " +
        "o AS (SELECT lang, doc_id, tok, CAST(sum(tok) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) off_end, " +
        "CAST(sum(tok) OVER (PARTITION BY lang) AS BIGINT) lang_total FROM t), " +
        "sp AS (SELECT lang, doc_id, lang_total, CAST((off_end - tok) // 512 AS BIGINT) seq_first, " +
        "CAST((off_end - 1) // 512 AS BIGINT) seq_last FROM o), " +
        "e AS (SELECT lang, doc_id, lang_total, seq_first, unnest(range(seq_first, seq_last + 1)) seq_id FROM sp) " +
        "SELECT lang, CAST(seq_id AS BIGINT) seq_id, CAST(count(*) AS BIGINT) n_docs, " +
        "CAST(sum(CASE WHEN seq_first = seq_id THEN 1 ELSE 0 END) AS BIGINT) n_starts, " +
        "CAST(least(512, max(lang_total) - seq_id * 512) AS BIGINT) fill " +
        "FROM e GROUP BY lang, seq_id ORDER BY lang, seq_id")),
    ("q_docs_pack_greedy", qDocsPackGreedy, Some(
      "WITH RECURSIVE t AS (SELECT lang, doc_id, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok, " +
        "CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) i FROM documents), " +
        "rec AS (" +
        "SELECT lang, doc_id, tok, i, CAST(0 AS BIGINT) bin, tok fill FROM t WHERE i = 1 " +
        "UNION ALL " +
        "SELECT t.lang, t.doc_id, t.tok, t.i, " +
        "CASE WHEN r.fill + t.tok <= 1024 THEN r.bin ELSE r.bin + 1 END bin, " +
        "CASE WHEN r.fill + t.tok <= 1024 THEN r.fill + t.tok ELSE t.tok END fill " +
        "FROM rec r JOIN t ON t.lang = r.lang AND t.i = r.i + 1) " +
        "SELECT lang, bin, CAST(count(*) AS BIGINT) n_docs, CAST(sum(tok) AS BIGINT) tokens, " +
        "round(sum(tok) / 1024.0, 4) util " +
        "FROM rec GROUP BY lang, bin ORDER BY lang, bin")),
    ("q_docs_shard_assign", qDocsShardAssign, Some(
      "WITH t AS (SELECT doc_id, source, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok, " +
        "CAST('0x' || substr(md5('shard' || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 shard FROM documents), " +
        "a AS (SELECT shard, CAST(count(*) AS BIGINT) n_docs, CAST(sum(tok) AS BIGINT) tokens, " +
        "CAST(count(DISTINCT source) AS BIGINT) n_sources FROM t GROUP BY 1), " +
        "g AS (SELECT CAST(sum(tokens) AS BIGINT) total FROM a) " +
        "SELECT shard, n_docs, tokens, n_sources, round(tokens * 16.0 / total, 4) skew " +
        "FROM a, g ORDER BY shard")),
    ("q_docs_split", qDocsSplit, Some(
      "WITH t AS (SELECT lang, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok, " +
        "CAST('0x' || substr(md5('split' || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 hmod FROM documents) " +
        "SELECT CASE WHEN hmod < 90 THEN 'train' WHEN hmod < 95 THEN 'val' ELSE 'test' END split, lang, " +
        "CAST(count(*) AS BIGINT) n_docs, CAST(sum(tok) AS BIGINT) tokens " +
        "FROM t GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_docs_length_dist", qDocsLengthDist, Some(
      "WITH t AS (SELECT source, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok FROM documents) " +
        "SELECT source, CAST(count(*) AS BIGINT) n_docs, " +
        "round(quantile_cont(tok, 0.5), 4) p50, round(quantile_cont(tok, 0.9), 4) p90, " +
        "round(quantile_cont(tok, 0.99), 4) p99, max(tok) mx " +
        "FROM t GROUP BY source ORDER BY source")),
    ("q_source_overlap", qSourceOverlap, Some(
      "WITH t AS (SELECT DISTINCT substr(text, 1, 16) h, source FROM documents) " +
        "SELECT a.source src_a, b.source src_b, CAST(count(DISTINCT a.h) AS BIGINT) n_shared " +
        "FROM t a JOIN t b ON a.h = b.h AND a.source < b.source " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),
    ("q_docs_shuffle", qDocsShuffle, Some(
      "WITH t AS (SELECT doc_id, lang, " +
        "CAST('0x' || substr(md5('epoch0' || ':' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) h FROM documents), " +
        "top AS (SELECT doc_id, lang, h FROM t ORDER BY h, doc_id LIMIT 100) " +
        "SELECT CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) pos, doc_id, lang, h " +
        "FROM top ORDER BY pos")),
    ("q_docs_budget_cap", qDocsBudgetCap, Some(
      "WITH t AS (SELECT source, doc_id, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok FROM documents), " +
        "c AS (SELECT source, tok, CASE WHEN sum(tok) OVER (PARTITION BY source ORDER BY doc_id) <= 1000 THEN 1 ELSE 0 END kept FROM t) " +
        "SELECT source, CAST(sum(kept) AS BIGINT) n_kept, CAST(sum(kept * tok) AS BIGINT) tok_kept, " +
        "CAST(sum(1 - kept) AS BIGINT) n_drop, CAST(sum((1 - kept) * tok) AS BIGINT) tok_drop " +
        "FROM c GROUP BY source ORDER BY source")),
    ("q_text_bm25", qTextBm25, Some(
      "WITH p AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) tf FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents) WHERE w != '' GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM p GROUP BY 1), " +
        "st AS (SELECT CAST(count(*) AS BIGINT) n, CAST(sum(dl) AS BIGINT) sdl FROM dl), " +
        "terms AS (SELECT w qw, df FROM (SELECT w, cnt, df, row_number() OVER (ORDER BY cnt DESC, w ASC) qi FROM " +
        "(SELECT w, sum(tf) cnt, CAST(count(*) AS BIGINT) df FROM p GROUP BY 1)) WHERE qi <= 2), " +
        "j AS (SELECT p.doc_id, p.tf, terms.df, dl.dl, st.n, st.sdl FROM p " +
        "JOIN terms ON p.w = terms.qw JOIN dl ON p.doc_id = dl.doc_id, st), " +
        "c AS (SELECT doc_id, round(" +
        "round(ln((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) " +
        "* (CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / n))), 6) contrib FROM j) " +
        "SELECT doc_id, round(sum(contrib), 6) score, CAST(count(*) AS BIGINT) n_terms " +
        "FROM c GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20")),
    ("q_docs_chunks", qDocsChunks, Some(
      "WITH t AS (SELECT source, doc_id, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok FROM documents), " +
        "nc AS (SELECT source, doc_id, tok, CASE WHEN tok <= 128 THEN 1 ELSE 1 + (tok - 128 + 95) // 96 END n FROM t), " +
        "e AS (SELECT source, doc_id, tok, unnest(range(n)) i FROM nc), " +
        "x AS (SELECT source, doc_id, tok, i, least(128, tok - i * 96) ctok FROM e), " +
        "a AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) n_docs, CAST(count(*) AS BIGINT) n_chunks, " +
        "CAST(sum(ctok) AS BIGINT) chunk_tok, CAST(sum(CASE WHEN i = 0 THEN tok ELSE 0 END) AS BIGINT) doc_tok FROM x GROUP BY 1) " +
        "SELECT source, n_docs, n_chunks, chunk_tok, CAST(chunk_tok - doc_tok AS BIGINT) overhead, " +
        "round(CAST(chunk_tok - doc_tok AS DOUBLE) / doc_tok, 6) overhead_ratio " +
        "FROM a ORDER BY source")),
    ("q_text_zipf", qTextZipf, Some(
      "WITH t AS (SELECT lang, w, CAST(count(*) AS BIGINT) cnt FROM " +
        "(SELECT lang, unnest(string_split(text, ' ')) w FROM documents) WHERE w != '' GROUP BY 1, 2), " +
        "r AS (SELECT lang, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, w ASC) rk FROM t), " +
        "p AS (SELECT lang, round(ln(CAST(rk AS DOUBLE)), 6) x, round(ln(CAST(cnt AS DOUBLE)), 6) y FROM r WHERE rk <= 50), " +
        "a AS (SELECT lang, CAST(count(*) AS DOUBLE) n, sum(x) sx, sum(y) sy, " +
        "sum(x * y) sxy, sum(x * x) sxx FROM p GROUP BY 1) " +
        "SELECT lang, CAST(n AS BIGINT) n_terms, " +
        "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) slope, " +
        "round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4) intercept " +
        "FROM a ORDER BY lang")),
    ("q_docs_interleave", qDocsInterleave, Some(
      "WITH t AS (SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) rk FROM documents), " +
        "top AS (SELECT source, doc_id, rk FROM t ORDER BY rk, source LIMIT 100) " +
        "SELECT CAST(row_number() OVER (ORDER BY rk, source) AS BIGINT) pos, source, doc_id, rk " +
        "FROM top ORDER BY pos")),
    ("q_text_decontaminate", qTextDecontaminate, Some(
      "WITH g AS (SELECT doc_id, source, list_distinct(list_transform(range(len(w) - 7), i -> array_to_string(w[i+1:i+8], ' '))) gs " +
        "FROM (SELECT doc_id, source, string_split(text, ' ') w FROM documents) WHERE len(w) >= 8), " +
        "e AS (SELECT DISTINCT unnest(gs) ng FROM g WHERE source = 'src0'), " +
        "bad AS (SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(gs) ng FROM g WHERE source != 'src0') t " +
        "WHERE ng IN (SELECT ng FROM e)) " +
        "SELECT lang, CAST(count(*) AS BIGINT) n_docs, CAST(sum(doc_id) AS BIGINT) id_sum, " +
        "CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) tokens " +
        "FROM documents WHERE source != 'src0' AND doc_id NOT IN (SELECT doc_id FROM bad) " +
        "GROUP BY lang ORDER BY lang")),
  )
}
