package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-quality metrics tier: tokenizer fertility, unigram entropy,
  * type-token ratio, and per-dimension embedding health — the diagnostic
  * panel a training-data pipeline watches BETWEEN crawls to catch
  * tokenizer drift, template floods, vocabulary collapse, and dead or
  * exploding embedding dimensions before they reach the trainer.
  *
  * Determinism (SURVEY §2.0): token counts are exact integers from the
  * shared whitespace split; every `ln` is pre-rounded to 6 dp on exact
  * integer inputs in BOTH engines (the q_text_zipf discipline), and float
  * sums follow the q_sim_centroid contract — round the raw sum at 10 dp,
  * divide, re-round — so partial-aggregation order cannot reach the hash
  * gate.
  *
  * Scale: every member is scan → (optionally explode) → ONE map-side
  * combining hash aggregate on a bounded key (lang, source, or the 64
  * embedding dims); nothing here shuffles more than the aggregate's
  * partial states, so the panel costs one pass at any corpus size.
  */
object Quality {
  /** Whitespace token count; NULL text pinned to '' (1 token both engines). */
  private val tokCount =
    size(split(coalesce(col("text"), lit("")), " ")).cast("long")

  // ---- tokenizer fertility ------------------------------------------------

  /** Tokenizer-fertility report per language: characters per whitespace
    * token and tokens per document — the ratio that tells you how many
    * real (BPE) tokens a corpus will cost per language and flags
    * languages the tokenizer fragments badly (fertility spikes are how
    * under-resourced languages get silently over-charged in the token
    * budget). Exact integer sums; two final divides. */
  val qTextFertility: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), tokCount.as("tok"),
        length(coalesce(col("text"), lit(""))).cast("long").as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"), sum("chars").as("chars"))
      .withColumn("chars_per_tok",
        Num.roundd(col("chars").cast("double") / col("tokens").cast("double"), 4))
      .withColumn("toks_per_doc",
        Num.roundd(col("tokens").cast("double") / col("n_docs").cast("double"), 4))
      .orderBy("lang")

  // ---- unigram entropy ----------------------------------------------------

  /** Unigram Shannon entropy per language, H = ln N − (Σ c·ln c)/N over
    * the exact token counts, with the ln(vocab)-normalized form beside it
    * — the vocabulary-collapse detector (aggressive filtering or
    * boilerplate floods push H toward 0; healthy text sits near the
    * Zipf-implied value). Every ln is pre-rounded at 6 dp on exact
    * integers, the weighted sum runs over ≤vocab rows per language, and
    * the result re-rounds at 4 — the q_text_zipf discipline. */
  val qTextEntropy: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(col("c").cast("double") * Num.roundd(log(col("c").cast("double")), 6)).as("slnc"))
      .select(col("lang"), col("n_tokens"), col("vocab"),
        Num.roundd(Num.roundd(log(col("n_tokens").cast("double")), 6) -
          col("slnc") / col("n_tokens").cast("double"), 4).as("entropy"),
        when(col("vocab") > 1,
          Num.roundd((Num.roundd(log(col("n_tokens").cast("double")), 6) -
            col("slnc") / col("n_tokens").cast("double")) /
            Num.roundd(log(col("vocab").cast("double")), 6), 4)).as("norm_entropy"))
      .orderBy("lang")

  // ---- type-token ratio ---------------------------------------------------

  /** Lexical-diversity report per source: each document's type-token
    * ratio (distinct words / words, the classic diversity score), rolled
    * up to the per-source mean and extremes — low-TTR sources are
    * template mills and deserve a dedup pass before they dilute the mix.
    * Per-doc TTR is an exact rational rounded at 4; the source mean adds
    * ≤docs-per-source pre-rounded doubles and re-rounds (the
    * pre-rounded-sum contract). */
  val qTextTtr: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), tokCount.as("tok"),
        size(array_distinct(split(coalesce(col("text"), lit("")), " "))).cast("long").as("utok"))
      .withColumn("ttr", Num.roundd(col("utok").cast("double") / col("tok").cast("double"), 4))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        Num.roundd(sum("ttr") / count(lit(1)).cast("double"), 4).as("avg_ttr"),
        min("ttr").as("min_ttr"), max("ttr").as("max_ttr"))
      .orderBy("source")

  // ---- embedding dimension health -----------------------------------------

  /** Per-dimension embedding health: mean, variance, min/max and the
    * dead-dimension flag over all 64 coordinates — the anisotropy /
    * collapsed-dimension report run after every encoder change (a
    * near-zero-variance dimension wastes index space; a huge-mean one
    * breaks cosine geometry). posexplode fans each vector into 64 rows,
    * then ONE hash agg on the dim key; float sums follow the
    * q_sim_centroid round-at-10-then-divide contract. The `dead` compare
    * uses the pre-rounded variance, so the flag is order-insensitive. */
  val qEmbDimStats: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"), col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        Num.roundd(Num.roundd(sum("v"), 10) / count(lit(1)).cast("double"), 6).as("mean"),
        Num.roundd(Num.roundd(sum(col("v") * col("v")), 10) / count(lit(1)).cast("double"), 6).as("msq"),
        min("v").as("mn"), max("v").as("mx"))
      .withColumn("variance", Num.roundd(col("msq") - col("mean") * col("mean"), 6))
      .withColumn("dead", (col("variance") < 0.0001).cast("long"))
      .select("dim", "n", "mean", "variance", "mn", "mx", "dead")
      .orderBy("dim")

  // ---- held-out cross-entropy ---------------------------------------------

  /** Held-out language-model evaluation: an add-one-smoothed unigram LM
    * trained on every source EXCEPT src0 scores the src0 documents —
    * per-doc token count and cross-entropy (avg negative log-likelihood,
    * nats). The canonical filter-quality loop: rising held-out NLL after
    * a pipeline change means the change hurt the data. Reported as NLL
    * rather than perplexity deliberately — exp() is libm, not
    * engine-portable (the q_ts_decay_topk lesson).
    *
    * P(w) = (c_w + 1)/(N + V) is an exact integer rational; the ln is
    * pre-rounded at 6 dp (zipf discipline), the per-doc sum runs over
    * ≤doc-tokens pre-rounded terms. Train counts are a vocabulary-sized
    * dim → BROADCAST onto the eval tokenize; (N, V) ride as a broadcast
    * 1-row aggregate. Scale: one tokenize per side, no shuffle beyond
    * the count aggregates — the eval set is small by definition. */
  val qTextHeldoutPpl: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val trainCnt = doc.filter(col("source") =!= "src0")
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("tw"))
      .filter(col("tw") =!= "")
      .groupBy("tw").agg(count(lit(1)).as("c"))
    val stats = trainCnt.agg(sum("c").as("bign"), count(lit(1)).as("v"))
    doc.filter(col("source") === "src0")
      .select(col("doc_id"), explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(trainCnt), col("w") === col("tw"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("lnp", Num.roundd(log(
        (coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
          (col("bign") + col("v")).cast("double")), 6))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        Num.roundd(-sum("lnp") / count(lit(1)).cast("double"), 4).as("nll"))
      .orderBy("doc_id")
  }

  // ---- embedding norm distribution ----------------------------------------

  /** Vector-norm distribution per label: median/mean/min/max of ‖v‖ —
    * the second embedding-health axis next to [[qEmbDimStats]] (norm
    * drift breaks dot-product retrieval even when directions hold; a
    * norm-collapsed label is an encoder regression). Sum-of-squares per
    * vector is rounded at 8 BEFORE the sqrt, so aggregation order
    * vanishes ahead of the only libm call, which then runs on identical
    * doubles in both engines; the median is exact sort-based percentile
    * over 6-dp norms. One posexplode + two hash aggs; state per group is
    * that label's norms. */
  val qEmbNormDist: Q = (s, d) => {
    val norms = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("v").cast("double").as("v"))
      .groupBy("vec_id", "label")
      .agg(Num.roundd(sum(col("v") * col("v")), 8).as("ss"))
      .withColumn("nrm", Num.roundd(sqrt(col("ss")), 6))
    norms.groupBy("label")
      .agg(count(lit(1)).as("n"),
        Num.roundd(expr("percentile(nrm, 0.5d)"), 6).as("p50"),
        Num.roundd(Num.roundd(sum("nrm"), 8) / count(lit(1)).cast("double"), 6).as("mean_norm"),
        min("nrm").as("mn"), max("nrm").as("mx"))
      .select(col("label").cast("long").as("label"), col("n"), col("p50"),
        col("mean_norm"), col("mn"), col("mx"))
      .orderBy("label")
  }

  /** Embedding whitening (per-dimension standardization): w = (v − μ_d)/
    * √(σ²_d + 1e-6) — the apply step of [[qEmbDimStats]]'s diagnostics,
    * the preprocessing that fixes anisotropy before cosine retrieval.
    * The 64-row stats table computes under the exact q_sim_centroid
    * rounding contract and BROADCASTS back against the exploded vectors
    * (a dims-sized build side — constant, never corpus-sized), so the
    * whole pass is two scans + one broadcast join, linear at any corpus.
    * Served for the first 50 vectors (the gate's bounded window). */
  val qEmbWhiten: Q = (s, d) => {
    val x = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val stats = x.groupBy("dim")
      .agg(
        Num.roundd(Num.roundd(sum("v"), 10) / count(lit(1)).cast("double"), 6).as("mean"),
        Num.roundd(Num.roundd(sum(col("v") * col("v")), 10) / count(lit(1)).cast("double"), 6).as("msq"))
      .withColumn("variance", Num.roundd(col("msq") - col("mean") * col("mean"), 6))
    x.filter(col("vec_id") < 50)
      .join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        Num.roundd((col("v") - col("mean")) / sqrt(col("variance") + lit(1e-6)), 6).as("w"))
      .orderBy("vec_id", "dim")
  }

  // ---- Gopher quality rules -----------------------------------------------

  /** Gopher-style rule filter (Rae et al. 2021, App. A) reported per
    * source: word count ∈ [50, 100k], mean word length ∈ [3, 10],
    * symbol-to-word ratio ('#' chars + '…'-as-'...' occurrences) < 0.1,
    * alphabetic-word fraction > 0.8, and ≥2 distinct English stop words
    * present — each rule's failure count plus the docs passing ALL rules
    * and the pass rate. EVERY predicate is an exact-integer comparison
    * (mean length via 3·n ≤ Σlen ≤ 10·n, ratios via cross-multiplying —
    * the q_ts_ma_cross discipline): no float ever decides a rule. One
    * scan: word explode → per-doc hash aggregate → per-source rollup,
    * all map-side combinable, linear at any corpus size. */
  val qDocsGopherRules: Q = (s, d) => {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nw"),
        sum(length(col("w")).cast("long")).as("sumlen"),
        sum(when(col("w").rlike("[a-z]"), 1L).otherwise(0L)).as("alpha"),
        countDistinct(when(col("w").isInCollection(stops), col("w"))).as("nstop"))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        (length(col("text")) - length(regexp_replace(col("text"), "#", "")))
          .cast("long").as("hashes"),
        ((length(col("text")) -
          length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3))
          .cast("long").as("ell"))
    val r = base.join(words, Seq("doc_id"), "left")
      .select(col("source"),
        when(coalesce(col("nw"), lit(0L)).between(50L, 100000L), 0L).otherwise(1L).as("f_wc"),
        when(lit(3L) * col("nw") <= col("sumlen") &&
          col("sumlen") <= lit(10L) * col("nw"), 0L).otherwise(1L).as("f_wlen"),
        when(lit(10L) * (col("hashes") + col("ell")) < coalesce(col("nw"), lit(0L)), 0L)
          .otherwise(1L).as("f_sym"),
        when(lit(5L) * col("alpha") >= lit(4L) * col("nw"), 0L).otherwise(1L).as("f_alpha"),
        when(col("nstop") >= 2L, 0L).otherwise(1L).as("f_stop"))
    r.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("f_wc").as("fail_wc"), sum("f_wlen").as("fail_wlen"),
        sum("f_sym").as("fail_sym"), sum("f_alpha").as("fail_alpha"),
        sum("f_stop").as("fail_stop"),
        sum(when(col("f_wc") + col("f_wlen") + col("f_sym") +
          col("f_alpha") + col("f_stop") === 0L, 1L).otherwise(0L)).as("n_pass"))
      .withColumn("pass_rate",
        Num.roundd(col("n_pass").cast("double") / col("n_docs"), 4))
      .orderBy("source")
  }

  // ---- model-eval tier (round-14 batch 50) ---------------------------------

  /** Shared confusion cells for the eval tier: the cheap n-gram
    * language-ID's predictions against the labeled lang column, ONE
    * map-side-combining hash aggregate collapsed to the ≤ langs² grid and
    * collected for a bounded driver fold (the qStatMutualInfo device —
    * the grid is label-vocabulary-sized regardless of corpus rows). */
  private def confusionCells(s: SparkSession, d: String): Array[(String, String, Long)] = {
    val cells = TextAnalysis.langId(Tables.documents(s, d), "text")
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(c => (c._1, c._2))
    require(cells.length <= 10000,
      s"confusionCells: label grid ${cells.length} exceeds the driver-fold bound")
    cells
  }

  /** Cohen's kappa between the cheap language-ID and the labeled lang
    * column — the chance-corrected agreement statistic (Cohen 1960) that
    * tells a labeling pipeline whether a heuristic labeler beats the
    * class-prior coin flip. Everything is exact longs off the confusion
    * grid — agree, N, Σ row_i·col_i — with po/pe/kappa each ONE divide
    * rounded at 6 dp; pe = 1 (single-class degenerate) guards kappa NULL.
    * Long boundary: N² stays exact while N ≲ 3e9 docs; beyond that the
    * chance products move to DecimalType. */
  val qEvalKappa: Q = (s, d) => {
    val cells = confusionCells(s, d)
    val n = cells.map(_._3).sum
    // loud at the boundary, like confusionCells' grid require (ADVICE r14)
    require(n <= 3000000000L,
      s"qEvalKappa: n = $n — n*n exceeds exact Long range; move the chance " +
        "products to DecimalType before raising this bound")
    val agree = cells.collect { case (a, b, c) if a == b => c }.sum
    val rows = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val colsT = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val chance = rows.keys.toSeq.sorted
      .map(k => rows(k) * colsT.getOrElse(k, 0L)).sum
    val den = n * n - chance
    s.range(1).select(
      lit(n).as("n"), lit(agree).as("agree"),
      Num.roundd(lit(agree).cast("double") / lit(n).cast("double"), 6).as("po"),
      Num.roundd(lit(chance).cast("double") / lit(n * n).cast("double"), 6).as("pe"),
      when(lit(den) =!= 0L,
        Num.roundd(lit(n * agree - chance).cast("double") /
          lit(den).cast("double"), 6)).as("kappa"))
  }

  /** Per-class precision / recall / F1 for the language-ID against the
    * labeled lang — the classifier report card (one row per class seen
    * as truth OR prediction; zh never gets predicted, so its row shows
    * precision NULL / recall 0). All three metrics are ONE exact-long
    * divide each: F1 = 2·tp/(support+predicted) algebraically, so no
    * intermediate float ever feeds another divide. Same bounded driver
    * fold as [[qEvalKappa]]. */
  val qEvalPrf: Q = (s, d) => {
    import s.implicits._
    val cells = confusionCells(s, d)
    val rows = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val colsT = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val classes = (rows.keySet ++ colsT.keySet).toSeq.sorted
    val base = classes.map { k =>
      (k, rows.getOrElse(k, 0L), colsT.getOrElse(k, 0L),
        cells.collect { case (a, b, c) if a == k && b == k => c }.sum)
    }
    base.toDF("label", "support", "predicted", "tp")
      .select(col("label"), col("support"), col("predicted"), col("tp"),
        when(col("predicted") > 0L,
          Num.roundd(col("tp").cast("double") / col("predicted").cast("double"), 6))
          .as("precision"),
        when(col("support") > 0L,
          Num.roundd(col("tp").cast("double") / col("support").cast("double"), 6))
          .as("recall"),
        when(col("support") + col("predicted") > 0L,
          Num.roundd((lit(2L) * col("tp")).cast("double") /
            (col("support") + col("predicted")).cast("double"), 6)).as("f1"))
      .orderBy("label")
  }

  /** AUC of document length as an is-English classifier score — the
    * ROC-area primitive every filter-threshold decision runs, computed
    * by the tie-corrected rank-sum identity AUC = U⁺/(n⁺·n⁻) (the
    * Mann–Whitney relationship, midranks over the distinct-score
    * rollup). Rank and running totals ride Rank.withGlobalOrderStats —
    * the range-partitioned TeraSort path, no single-partition window —
    * with n⁺/n⁻ folded in as literals from the partition profile. The
    * whole statistic is exact longs (2·R⁺ = Σ c⁺·(2(cum−t)+t+1), the
    * qStatMannWhitney device) with ONE final divide at 6 dp. */
  val qEvalAuc: Q = (s, d) => {
    val roll = Tables.documents(s, d)
      .groupBy(col("n_chars").as("v"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cpos"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cneg"))
      .withColumn("t", col("cpos") + col("cneg"))
    val (ranked, _, tots) = Rank.withGlobalOrderStats(roll, Seq(col("v")), "rk",
      Seq(("t", "cumt"), ("cpos", "__cp"), ("cneg", "__cn")))
    val (npos, nneg) = (tots(1), tots(2))
    ranked
      .agg(sum(col("cpos") *
        (lit(2L) * (col("cumt") - col("t")) + col("t") + 1L)).as("r2"))
      .select(lit(npos).as("n_pos"), lit(nneg).as("n_neg"),
        when(lit(npos) > 0L && lit(nneg) > 0L,
          Num.roundd((col("r2") - lit(npos) * (lit(npos) + 1L)).cast("double") /
            (lit(2L) * lit(npos) * lit(nneg)).cast("double"), 6)).as("auc"))
  }

  /** Calibration reliability table for the language-ID's is-English
    * pseudo-probability, Laplace-smoothed over the 4 marker languages:
    * p = (s_en + 1) / (Σ s_lang + 4) — the add-one posterior, so
    * no-vote docs sit at the 0.25 prior and confidence grows with vote
    * count instead of collapsing to {0, 1}. Ten equal-width probability
    * bins, each reporting how often the label actually IS English vs
    * the mean claimed probability — the reliability-diagram primitive
    * behind every "is this filter's score a probability?" audit, plus
    * each bin's calibration gap.
    *
    * Determinism: p pre-rounds at 6 dp (exact integer vote ratio, ONE
    * divide), so the per-bin sum of p is a sum of ~1e-6 multiples —
    * order-free at the 10-dp pre-round (q_sim_centroid contract) before
    * the mean's divide; bin = least(floor(p·10), 9) is the identical
    * IEEE expression both engines; counts are exact longs and pos_rate
    * / gap are single divides at 6 dp. One hash aggregate over the
    * scan; the bin table is ≤10 rows at any corpus size. */
  val qEvalCalibration: Q = (s, d) => {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val scored = TextAnalysis.langId(Tables.documents(s, d), "text")
    val total = langs.map(l => col(s"s_$l")).reduce(_ + _)
    val p = Num.roundd((col("s_en") + 1L).cast("double") /
      (total + lit(langs.size.toLong)).cast("double"), 6)
    scored
      .withColumn("p", p)
      .withColumn("bin", least(floor(col("p") * 10.0).cast("long"), lit(9L)))
      .withColumn("y", when(col("lang") === "en", 1L).otherwise(0L))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        Num.roundd(Num.roundd(sum("p"), 10) / count(lit(1)), 6).as("mean_p"),
        Num.roundd(sum("y").cast("double") / count(lit(1)).cast("double"), 6)
          .as("pos_rate"))
      .withColumn("gap", Num.roundd(col("pos_rate") - col("mean_p"), 6))
      .orderBy("bin")
  }

  // ---- catalog ------------------------------------------------------------

  /** Shared oracle CTE prefix: the language-ID device verbatim from
    * q_text_lang_confusion's oracle, ending at the confusion grid `mx`.
    * (Defined before `all` — object-init order matters for vals.) */
  private val evalConfusionSql =
    "WITH t AS (SELECT doc_id, list_distinct(string_split(text,' ')) tok FROM documents), " +
      "sc AS (SELECT doc_id, CAST(len(list_intersect(tok, ['der','die','das','und','ist','ein','nicht'])) AS BIGINT) s_de, " +
      "CAST(len(list_intersect(tok, ['the','a','of','and','to','in','is'])) AS BIGINT) s_en, " +
      "CAST(len(list_intersect(tok, ['el','la','de','y','que','un','es'])) AS BIGINT) s_es, " +
      "CAST(len(list_intersect(tok, ['le','la','de','et','un','est','que'])) AS BIGINT) s_fr FROM t), " +
      "pr AS (SELECT doc_id, CASE WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es' ELSE 'fr' END pred_lang " +
      "FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr) m FROM sc)), " +
      "mx AS (SELECT d.lang, pr.pred_lang, CAST(count(*) AS BIGINT) n " +
      "FROM pr JOIN documents d USING (doc_id) GROUP BY 1, 2), "

  val all: Seq[Entry] = Seq(
    Entry("q_emb_whiten", qEmbWhiten, Some(
      "WITH x AS (SELECT vec_id, CAST(p.pos AS BIGINT) dim, CAST(embedding[p.pos + 1] AS DOUBLE) v " +
        "FROM embeddings, (SELECT unnest(range(64)) pos) p), " +
        "a AS (SELECT dim, round(round(sum(v), 10) / count(*), 6) mean, " +
        "round(round(sum(v * v), 10) / count(*), 6) msq FROM x GROUP BY 1), " +
        "st AS (SELECT dim, mean, round(msq - mean * mean, 6) variance FROM a) " +
        "SELECT x.vec_id, x.dim, " +
        "round((x.v - st.mean) / sqrt(st.variance + 0.000001), 6) w " +
        "FROM x JOIN st ON st.dim = x.dim WHERE x.vec_id < 50 " +
        "ORDER BY x.vec_id, x.dim")),
    Entry("q_docs_gopher_rules", qDocsGopherRules, Some(
      "WITH f AS (SELECT doc_id, w FROM " +
        "(SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) w FROM documents) WHERE w != ''), " +
        "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) nw, CAST(sum(len(w)) AS BIGINT) sumlen, " +
        "CAST(sum(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END) AS BIGINT) alpha, " +
        "CAST(count(DISTINCT CASE WHEN w IN ('the','be','to','of','and','that','have','with','a','in') " +
        "THEN w END) AS BIGINT) nstop FROM f GROUP BY 1), " +
        "tx AS (SELECT doc_id, source, " +
        "CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) hashes, " +
        "CAST((len(text) - len(replace(text, '...', ''))) / 3 AS BIGINT) ell FROM documents), " +
        "r AS (SELECT tx.source, " +
        "CASE WHEN coalesce(nw, 0) BETWEEN 50 AND 100000 THEN 0 ELSE 1 END f_wc, " +
        "CASE WHEN 3 * nw <= sumlen AND sumlen <= 10 * nw THEN 0 ELSE 1 END f_wlen, " +
        "CASE WHEN 10 * (hashes + ell) < coalesce(nw, 0) THEN 0 ELSE 1 END f_sym, " +
        "CASE WHEN 5 * alpha >= 4 * nw THEN 0 ELSE 1 END f_alpha, " +
        "CASE WHEN nstop >= 2 THEN 0 ELSE 1 END f_stop " +
        "FROM tx LEFT JOIN pd ON pd.doc_id = tx.doc_id), " +
        "g AS (SELECT source, CAST(count(*) AS BIGINT) n_docs, " +
        "CAST(sum(f_wc) AS BIGINT) fail_wc, CAST(sum(f_wlen) AS BIGINT) fail_wlen, " +
        "CAST(sum(f_sym) AS BIGINT) fail_sym, CAST(sum(f_alpha) AS BIGINT) fail_alpha, " +
        "CAST(sum(f_stop) AS BIGINT) fail_stop, " +
        "CAST(sum(CASE WHEN f_wc + f_wlen + f_sym + f_alpha + f_stop = 0 THEN 1 ELSE 0 END) AS BIGINT) n_pass " +
        "FROM r GROUP BY 1) " +
        "SELECT source, n_docs, fail_wc, fail_wlen, fail_sym, fail_alpha, fail_stop, n_pass, " +
        "round(CAST(n_pass AS DOUBLE) / n_docs, 4) pass_rate FROM g ORDER BY source")),
    Entry("q_text_heldout_ppl", qTextHeldoutPpl, Some(
      "WITH tc AS (SELECT w tw, CAST(count(*) AS BIGINT) c FROM " +
        "(SELECT unnest(string_split(coalesce(text, ''), ' ')) w FROM documents WHERE source != 'src0') " +
        "WHERE w != '' GROUP BY 1), " +
        "st AS (SELECT CAST(sum(c) AS BIGINT) bign, CAST(count(*) AS BIGINT) v FROM tc), " +
        "ev AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) w " +
        "FROM documents WHERE source = 'src0') WHERE w != ''), " +
        "sc AS (SELECT ev.doc_id, round(ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE) / (st.bign + st.v)), 6) lnp " +
        "FROM ev LEFT JOIN tc ON tc.tw = ev.w, st) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) n_tokens, " +
        "round(-sum(lnp) / count(*), 4) nll FROM sc GROUP BY 1 ORDER BY 1")),
    Entry("q_emb_norm_dist", qEmbNormDist, Some(
      "WITH x AS (SELECT vec_id, label, CAST(embedding[p.pos + 1] AS DOUBLE) v " +
        "FROM embeddings, (SELECT unnest(range(64)) pos) p), " +
        "ss AS (SELECT vec_id, label, round(sum(v * v), 8) ss FROM x GROUP BY 1, 2), " +
        "nr AS (SELECT label, round(sqrt(ss), 6) nrm FROM ss) " +
        "SELECT CAST(label AS BIGINT) AS label, CAST(count(*) AS BIGINT) n, " +
        "round(quantile_cont(nrm, 0.5), 6) p50, " +
        "round(round(sum(nrm), 8) / count(*), 6) mean_norm, " +
        "min(nrm) mn, max(nrm) mx " +
        "FROM nr GROUP BY 1 ORDER BY 1")),
    Entry("q_text_fertility", qTextFertility, Some(
      "WITH t AS (SELECT lang, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok, " +
        "CAST(length(coalesce(text, '')) AS BIGINT) chars FROM documents), " +
        "a AS (SELECT lang, CAST(count(*) AS BIGINT) n_docs, CAST(sum(tok) AS BIGINT) tokens, " +
        "CAST(sum(chars) AS BIGINT) chars FROM t GROUP BY 1) " +
        "SELECT lang, n_docs, tokens, chars, " +
        "round(CAST(chars AS DOUBLE) / CAST(tokens AS DOUBLE), 4) chars_per_tok, " +
        "round(CAST(tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 4) toks_per_doc " +
        "FROM a ORDER BY lang")),
    Entry("q_text_entropy", qTextEntropy, Some(
      "WITH w AS (SELECT lang, unnest(string_split(coalesce(text, ''), ' ')) w FROM documents), " +
        "c AS (SELECT lang, w, CAST(count(*) AS BIGINT) c FROM w WHERE w != '' GROUP BY 1, 2), " +
        "a AS (SELECT lang, CAST(sum(c) AS BIGINT) n_tokens, CAST(count(*) AS BIGINT) vocab, " +
        "sum(CAST(c AS DOUBLE) * round(ln(CAST(c AS DOUBLE)), 6)) slnc FROM c GROUP BY 1) " +
        "SELECT lang, n_tokens, vocab, " +
        "round(round(ln(CAST(n_tokens AS DOUBLE)), 6) - slnc / CAST(n_tokens AS DOUBLE), 4) entropy, " +
        "CASE WHEN vocab > 1 THEN round((round(ln(CAST(n_tokens AS DOUBLE)), 6) - slnc / CAST(n_tokens AS DOUBLE)) / " +
        "round(ln(CAST(vocab AS DOUBLE)), 6), 4) END norm_entropy " +
        "FROM a ORDER BY lang")),
    Entry("q_text_ttr", qTextTtr, Some(
      "WITH t AS (SELECT source, CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok, " +
        "CAST(len(list_distinct(string_split(coalesce(text, ''), ' '))) AS BIGINT) utok FROM documents), " +
        "r AS (SELECT source, round(CAST(utok AS DOUBLE) / CAST(tok AS DOUBLE), 4) ttr FROM t) " +
        "SELECT source, CAST(count(*) AS BIGINT) n_docs, " +
        "round(sum(ttr) / count(*), 4) avg_ttr, min(ttr) min_ttr, max(ttr) max_ttr " +
        "FROM r GROUP BY 1 ORDER BY 1")),
    Entry("q_emb_dim_stats", qEmbDimStats, Some(
      "WITH x AS (SELECT CAST(p.pos AS BIGINT) dim, CAST(embedding[p.pos + 1] AS DOUBLE) v " +
        "FROM embeddings, (SELECT unnest(range(64)) pos) p), " +
        "a AS (SELECT dim, CAST(count(*) AS BIGINT) n, " +
        "round(round(sum(v), 10) / count(*), 6) mean, " +
        "round(round(sum(v * v), 10) / count(*), 6) msq, " +
        "min(v) mn, max(v) mx FROM x GROUP BY 1), " +
        "b AS (SELECT dim, n, mean, round(msq - mean * mean, 6) variance, mn, mx FROM a) " +
        "SELECT dim, n, mean, variance, mn, mx, " +
        "CAST(CASE WHEN variance < 0.0001 THEN 1 ELSE 0 END AS BIGINT) dead " +
        "FROM b ORDER BY dim")),
    Entry("q_eval_kappa", qEvalKappa, Some(
      evalConfusionSql +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) n, " +
        "CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS BIGINT) agree FROM mx), " +
        "rc AS (SELECT CAST(coalesce(sum(r.rt * c.ct), 0) AS BIGINT) chance FROM " +
        "(SELECT lang k, CAST(sum(n) AS BIGINT) rt FROM mx GROUP BY 1) r " +
        "JOIN (SELECT pred_lang k, CAST(sum(n) AS BIGINT) ct FROM mx GROUP BY 1) c ON r.k = c.k) " +
        "SELECT tot.n, tot.agree, " +
        "round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) po, " +
        "round(CAST(chance AS DOUBLE) / CAST(n * n AS DOUBLE), 6) pe, " +
        "CASE WHEN n * n - chance != 0 THEN " +
        "round(CAST(n * agree - chance AS DOUBLE) / CAST(n * n - chance AS DOUBLE), 6) END kappa " +
        "FROM tot CROSS JOIN rc")),
    Entry("q_eval_prf", qEvalPrf, Some(
      evalConfusionSql +
        "r AS (SELECT lang k, CAST(sum(n) AS BIGINT) support FROM mx GROUP BY 1), " +
        "c AS (SELECT pred_lang k, CAST(sum(n) AS BIGINT) predicted FROM mx GROUP BY 1), " +
        "dg AS (SELECT lang k, CAST(sum(n) AS BIGINT) tp FROM mx WHERE lang = pred_lang GROUP BY 1), " +
        "u AS (SELECT coalesce(r.k, c.k) AS \"label\", coalesce(r.support, 0) support, " +
        "coalesce(c.predicted, 0) predicted FROM r FULL OUTER JOIN c ON r.k = c.k) " +
        "SELECT u.\"label\", u.support, u.predicted, coalesce(dg.tp, 0) tp, " +
        "CASE WHEN u.predicted > 0 THEN round(CAST(coalesce(dg.tp, 0) AS DOUBLE) / u.predicted, 6) END \"precision\", " +
        "CASE WHEN u.support > 0 THEN round(CAST(coalesce(dg.tp, 0) AS DOUBLE) / u.support, 6) END recall, " +
        "CASE WHEN u.support + u.predicted > 0 THEN " +
        "round(CAST(2 * coalesce(dg.tp, 0) AS DOUBLE) / (u.support + u.predicted), 6) END f1 " +
        "FROM u LEFT JOIN dg ON dg.k = u.\"label\" ORDER BY u.\"label\"")),
    Entry("q_eval_auc", qEvalAuc, Some(
      "WITH roll AS (SELECT n_chars v, " +
        "CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) cpos, " +
        "CAST(sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS BIGINT) cneg " +
        "FROM documents GROUP BY 1), " +
        "rr AS (SELECT v, cpos, cneg, cpos + cneg t, " +
        "CAST(sum(cpos + cneg) OVER (ORDER BY v) AS BIGINT) cumt FROM roll), " +
        "a AS (SELECT CAST(sum(cpos * (2 * (cumt - t) + t + 1)) AS BIGINT) r2, " +
        "CAST(sum(cpos) AS BIGINT) n_pos, CAST(sum(cneg) AS BIGINT) n_neg FROM rr) " +
        "SELECT n_pos, n_neg, CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
        "round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE), 6) END auc " +
        "FROM a")),
    Entry("q_eval_calibration", qEvalCalibration, Some(
      "WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text,' ')) tok FROM documents), " +
        "sc AS (SELECT doc_id, lang, CAST(len(list_intersect(tok, ['der','die','das','und','ist','ein','nicht'])) AS BIGINT) s_de, " +
        "CAST(len(list_intersect(tok, ['the','a','of','and','to','in','is'])) AS BIGINT) s_en, " +
        "CAST(len(list_intersect(tok, ['el','la','de','y','que','un','es'])) AS BIGINT) s_es, " +
        "CAST(len(list_intersect(tok, ['le','la','de','et','un','est','que'])) AS BIGINT) s_fr FROM t), " +
        "pp AS (SELECT lang, " +
        "round(CAST(s_en + 1 AS DOUBLE) / (s_de + s_en + s_es + s_fr + 4), 6) p FROM sc), " +
        "b AS (SELECT CAST(least(floor(p * 10), 9) AS BIGINT) bin, p, " +
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END y FROM pp) " +
        "SELECT bin, CAST(count(*) AS BIGINT) n, CAST(sum(y) AS BIGINT) n_pos, " +
        "round(round(sum(p), 10) / count(*), 6) mean_p, " +
        "round(CAST(sum(y) AS DOUBLE) / count(*), 6) pos_rate, " +
        "round(round(CAST(sum(y) AS DOUBLE) / count(*), 6) - round(round(sum(p), 10) / count(*), 6), 6) gap " +
        "FROM b GROUP BY 1 ORDER BY 1")),
  )
}
