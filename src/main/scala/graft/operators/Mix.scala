package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-mixing tier (round 16): the mixture-design statistics a
  * pretraining run plans with BEFORE any batch is sampled — temperature
  * re-weighting of language shares (the XLM-R / mT5 α-sampling recipe),
  * per-source epoch budgets under a repeat cap, the (source × lang)
  * mixing matrix with lift, mixture concentration (HHI / effective
  * domain count), and the exact-dup discount that tells how much of each
  * source's token mass survives dedup.
  *
  * Every query reduces the corpus to a dimension-bounded grid with ONE
  * map-side-combining aggregate (≤ langs, ≤ sources, or ≤ sources×langs
  * rows) and does the mixture arithmetic over that grid with window
  * sums — the panel-then-window shape that is flat in corpus bytes.
  * Determinism: token counts are exact longs; every share is one divide
  * of identical longs; pow() terms round at 9 dp BEFORE the ≤grid-row
  * sums (each term sits on the 1e-9 grid, so summation order cannot
  * flip a digit — the chi-square discipline); final rates round through
  * [[Num.roundd]] on identical operand trees in both engines. */
object Mix {
  /** Whitespace token count; text-null coalesced (the Corpus contract). */
  private val tokCount =
    size(split(coalesce(col("text"), lit("")), " ")).cast("long")

  private val wAll = Window.partitionBy()

  /** Temperature sampling (α = 0.3, the XLM-R low-resource boost): raw
    * token shares p_i re-weighted to p_i^α / Σ p_j^α, with the sampling
    * boost q_i/p_i a mixture designer reads per language. */
  val qMixTemperature: Q = (s, d) => {
    val g = Tables.documents(s, d)
      .groupBy("lang").agg(sum(tokCount).as("n_tokens"))
    val p0 = col("n_tokens").cast("double") /
      sum("n_tokens").over(wAll).cast("double")
    val w = Num.roundd(pow(p0, 0.3), 9)
    g.withColumn("p_raw", Num.roundd(p0, 6))
      .withColumn("__w", w)
      .withColumn("p_temp", Num.roundd(col("__w") / sum("__w").over(wAll), 6))
      .withColumn("boost",
        Num.roundd(col("__w") / sum("__w").over(wAll) / p0, 4))
      .select("lang", "n_tokens", "p_raw", "p_temp", "boost")
      .orderBy("lang")
  }

  /** Epoch budget per source under a 2×-corpus token budget and a
    * 4-epoch repeat cap (the "how often may a small domain repeat"
    * planning table): temperature share (α = 0.5) allocates the budget,
    * the cap clips it, and util reports the clipped allocation. */
  val qMixEpochs: Q = (s, d) => {
    val g = Tables.documents(s, d)
      .groupBy("source").agg(sum(tokCount).as("n_tokens"))
    val p0 = col("n_tokens").cast("double") /
      sum("n_tokens").over(wAll).cast("double")
    val w = Num.roundd(pow(p0, 0.5), 9)
    val q = col("__w") / sum("__w").over(wAll)
    val budget = lit(2.0) * sum("n_tokens").over(wAll).cast("double")
    val alloc = budget * q
    val cap = lit(4.0) * col("n_tokens").cast("double")
    g.withColumn("__w", w)
      .withColumn("q_temp", Num.roundd(q, 6))
      .withColumn("alloc_tokens", Num.roundd(alloc, 2))
      .withColumn("epochs", Num.roundd(alloc / col("n_tokens").cast("double"), 4))
      .withColumn("capped", (alloc > cap).cast("long"))
      .withColumn("alloc_final", Num.roundd(least(alloc, cap), 2))
      .select("source", "n_tokens", "q_temp", "alloc_tokens", "epochs",
        "capped", "alloc_final")
      .orderBy("source")
  }

  /** The (source × lang) mixing matrix: token mass per cell with the
    * within-source and within-lang shares and the independence lift
    * p_sl / (p_s · p_l) — the audit view of "which sources carry which
    * languages" and how far the joint is from the product. */
  val qMixDomainMatrix: Q = (s, d) => {
    val g = Tables.documents(s, d)
      .groupBy("source", "lang").agg(sum(tokCount).as("n_tokens"))
    val tot = sum("n_tokens").over(wAll).cast("double")
    val rowTot = sum("n_tokens").over(Window.partitionBy("source")).cast("double")
    val colTot = sum("n_tokens").over(Window.partitionBy("lang")).cast("double")
    val cell = col("n_tokens").cast("double")
    g.withColumn("row_share", Num.roundd(cell / rowTot, 6))
      .withColumn("col_share", Num.roundd(cell / colTot, 6))
      .withColumn("lift", Num.roundd(cell * tot / (rowTot * colTot), 4))
      .select("source", "lang", "n_tokens", "row_share", "col_share", "lift")
      .orderBy("source", "lang")
  }

  /** Mixture concentration: Herfindahl–Hirschman index over source token
    * shares, the effective number of domains 1/HHI, and the largest
    * share — the one-row "is this corpus really diverse" summary.
    * Share² terms round at 9 dp before the ≤sources-row sum. */
  val qMixHhi: Q = (s, d) => {
    val g = Tables.documents(s, d)
      .groupBy("source").agg(sum(tokCount).as("n_tokens"))
    val share = col("n_tokens").cast("double") /
      sum("n_tokens").over(wAll).cast("double")
    g.withColumn("__sq", Num.roundd(share * share, 9))
      .withColumn("__sh", share)
      .agg(count(lit(1)).as("n_domains"),
        sum("__sq").as("__hhi"),
        max("__sh").as("__top"))
      .select(col("n_domains"),
        Num.roundd(col("__hhi"), 6).as("hhi"),
        Num.roundd(lit(1.0) / col("__hhi"), 4).as("eff_domains"),
        Num.roundd(col("__top"), 6).as("top_share"))
      .orderBy("n_domains")
  }

  /** Exact-dup token discount per source: raw vs first-occurrence token
    * mass (keep = min doc_id within the md5(text) group — the
    * q_dedup_exact keep rule), with each source's mixture share before
    * and after dedup. The hash window shuffles once on the text hash;
    * everything after is the ≤sources grid. */
  val qMixDedupDiscount: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), tokCount.as("tok"),
        md5(col("text")).as("__h"))
      .withColumn("__keep",
        (col("doc_id") === min("doc_id").over(Window.partitionBy("__h"))).cast("long"))
    val g = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("tok").as("tokens_raw"),
        sum(col("__keep") * col("tok")).as("tokens_unique"))
    g.withColumn("discount",
        Num.roundd(col("tokens_unique").cast("double") / col("tokens_raw").cast("double"), 6))
      .withColumn("share_raw", Num.roundd(
        col("tokens_raw").cast("double") / sum("tokens_raw").over(wAll).cast("double"), 6))
      .withColumn("share_unique", Num.roundd(
        col("tokens_unique").cast("double") / sum("tokens_unique").over(wAll).cast("double"), 6))
      .select("source", "n_docs", "tokens_raw", "tokens_unique",
        "discount", "share_raw", "share_unique")
      .orderBy("source")
  }

  private val tokSql = "CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)"

  val all: Seq[Entry] = Seq(
    Entry("q_mix_temperature", qMixTemperature, Some(
      s"WITH g AS (SELECT lang, CAST(sum($tokSql) AS BIGINT) n_tokens FROM documents GROUP BY 1), " +
        "t AS (SELECT lang, n_tokens, CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) p0, " +
        "round(pow(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE), 0.3), 9) w FROM g) " +
        "SELECT lang, n_tokens, round(p0, 6) p_raw, round(w / sum(w) OVER (), 6) p_temp, " +
        "round(w / sum(w) OVER () / p0, 4) boost FROM t ORDER BY lang")),
    Entry("q_mix_epochs", qMixEpochs, Some(
      s"WITH g AS (SELECT source, CAST(sum($tokSql) AS BIGINT) n_tokens FROM documents GROUP BY 1), " +
        "t AS (SELECT source, n_tokens, CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) p0, " +
        "round(pow(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE), 0.5), 9) w, " +
        "2.0 * CAST(sum(n_tokens) OVER () AS DOUBLE) budget FROM g), " +
        "u AS (SELECT source, n_tokens, w / sum(w) OVER () q, budget FROM t) " +
        "SELECT source, n_tokens, round(q, 6) q_temp, round(budget * q, 2) alloc_tokens, " +
        "round(budget * q / CAST(n_tokens AS DOUBLE), 4) epochs, " +
        "CAST(CASE WHEN budget * q > 4.0 * CAST(n_tokens AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) capped, " +
        "round(least(budget * q, 4.0 * CAST(n_tokens AS DOUBLE)), 2) alloc_final " +
        "FROM u ORDER BY source")),
    Entry("q_mix_domain_matrix", qMixDomainMatrix, Some(
      s"WITH g AS (SELECT source, lang, CAST(sum($tokSql) AS BIGINT) n_tokens FROM documents GROUP BY 1, 2) " +
        "SELECT source, lang, n_tokens, " +
        "round(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER (PARTITION BY source) AS DOUBLE), 6) row_share, " +
        "round(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER (PARTITION BY lang) AS DOUBLE), 6) col_share, " +
        "round(CAST(n_tokens AS DOUBLE) * CAST(sum(n_tokens) OVER () AS DOUBLE) / " +
        "(CAST(sum(n_tokens) OVER (PARTITION BY source) AS DOUBLE) * CAST(sum(n_tokens) OVER (PARTITION BY lang) AS DOUBLE)), 4) lift " +
        "FROM g ORDER BY source, lang")),
    Entry("q_mix_hhi", qMixHhi, Some(
      s"WITH g AS (SELECT source, CAST(sum($tokSql) AS BIGINT) n_tokens FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) sh FROM g), " +
        "a AS (SELECT CAST(count(*) AS BIGINT) n_domains, sum(round(sh * sh, 9)) hhi0, max(sh) top0 FROM t) " +
        "SELECT n_domains, round(hhi0, 6) hhi, round(1.0 / hhi0, 4) eff_domains, " +
        "round(top0, 6) top_share FROM a ORDER BY n_domains")),
    Entry("q_mix_dedup_discount", qMixDedupDiscount, Some(
      s"WITH d AS (SELECT doc_id, source, $tokSql tok, md5(text) h FROM documents), " +
        "k AS (SELECT source, tok, CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY h) THEN 1 ELSE 0 END AS BIGINT) keep FROM d), " +
        "g AS (SELECT source, CAST(count(*) AS BIGINT) n_docs, CAST(sum(tok) AS BIGINT) tokens_raw, " +
        "CAST(sum(keep * tok) AS BIGINT) tokens_unique FROM k GROUP BY 1) " +
        "SELECT source, n_docs, tokens_raw, tokens_unique, " +
        "round(CAST(tokens_unique AS DOUBLE) / CAST(tokens_raw AS DOUBLE), 6) discount, " +
        "round(CAST(tokens_raw AS DOUBLE) / CAST(sum(tokens_raw) OVER () AS DOUBLE), 6) share_raw, " +
        "round(CAST(tokens_unique AS DOUBLE) / CAST(sum(tokens_unique) OVER () AS DOUBLE), 6) share_unique " +
        "FROM g ORDER BY source")))
}
