package graft.operators

import graft.Catalog.{Entry, Q}
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-evaluation tier: the measurement queries a training-data /
  * RAG pipeline runs over its own embedding index — IR quality metrics
  * (recall@k, MRR, nDCG) of a degraded ranking against the exact one,
  * and curriculum phase assignment over the document corpus.
  *
  * The evaluated system is int8 symmetric quantization (the
  * q_emb_quantize storage format): ground truth = exact cosine top-10,
  * prediction = top-10 by QUANTIZED integer dot product. That makes the
  * eval fully oracle-checkable — both rankings are deterministic (the
  * quantized dot is an exact integer, the cosine is the bit-reproducible
  * graft_cosine/list_cosine_similarity pair) — while measuring a real
  * degradation (recall@10 lands ≈0.5–0.9 on the synthetic corpus, not a
  * vacuous 1.0 — full-precision dot ordering IS cosine ordering on
  * near-unit-norm vectors, which is why the non-quantized form makes a
  * useless eval).
  */
object Retrieval {
  /** Int8 symmetric per-vector quantization: q_i = floor(x_i·127/max|x| +
    * 0.5) — the explicit floor(+0.5) form is engine-portable (no
    * BigDecimal-vs-IEEE rounding split). r17: the max|x| normalizer is
    * hoisted into its own column — inlined inside the outer transform it
    * re-evaluated the array_max(transform(...)) scan per ELEMENT, an
    * O(d²) interpreted loop per vector; hoisted it is O(d) and the
    * division sees the identical double. */
  private def withQuant(df: DataFrame, vec: String, out: String): DataFrame =
    df.withColumn("__mx", expr(s"array_max(transform($vec, y -> abs(cast(y as double))))"))
      .withColumn(out, expr(
        s"transform($vec, x -> cast(floor(cast(x as double) * 127.0d / __mx + 0.5d) as bigint))"))
      .drop("__mx")

  /** recall@10 / MRR@10 / nDCG@10 of int8-quantized dot-product retrieval
    * vs exact cosine, per query vector (the 20 lowest vec_ids probe the
    * rest of the corpus). Brute-force scoring: the 20-row query side
    * BROADCASTS onto one corpus scan (at 100 TB, feed the candidate side
    * from the ANN index probes instead — the metrics pipeline is
    * unchanged). Both rankings tie-break on candidate id; the integer
    * dot product is exact, so ranks are engine-identical. nDCG's ideal
    * DCG is the left-to-right fold Σ 1/log2(i+1), i=1..10, on both
    * engines. */
  val qSimEvalMetrics: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val qs = withQuant(emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv")), "qv", "qi")
    val cs = withQuant(emb.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("cid"), col("embedding").as("cv")), "cv", "ci")
    val wg = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    val wp = Window.partitionBy("qid").orderBy(col("qdot").desc, col("cid"))
    cs.crossJoin(broadcast(qs))
      .withColumn("cos", Llm.cosineNative(s, "qv", "cv"))
      .withColumn("qdot", {
        // codegen'd long multiply-add (functions/LongDotProduct.scala) — the
        // interpreted zip_with form costs ~µs per pair inside this
        // queries×corpus join; FunctionsSpec holds the two forms equal
        graft.functions.GraftFunctions.register(s)
        expr("graft_dot_long(qi, ci)")
      })
      .withColumn("grk", row_number().over(wg))
      .withColumn("prk", row_number().over(wp))
      .filter(col("prk") <= 10)
      .withColumn("rel", when(col("grk") <= 10, 1).otherwise(0))
      .groupBy("qid")
      .agg(
        Num.roundd(sum("rel") / lit(10.0), 6).as("recall"),
        Num.roundd(coalesce(max(when(col("rel") === 1, lit(1.0) / col("prk"))), lit(0.0)), 6).as("mrr"),
        Num.roundd(
          sum(col("rel") / log2(col("prk").cast("double") + 1)) /
            expr("aggregate(sequence(1, 10), 0.0d, (acc, i) -> acc + 1.0d / log2(cast(i + 1 as double)))"),
          6).as("ndcg"))
      .orderBy("qid")
  }

  /** Curriculum phase assignment: rank the corpus by a difficulty proxy
    * (average word length) and split into 4 equal phases — the
    * easy-to-hard ordering a curriculum-training schedule consumes; the
    * report gives each phase's size, token budget and language spread.
    *
    * Phase assignment runs the distributed ntile (Rank.withNtile:
    * range-repartition + per-partition rank + P-row offset broadcast —
    * no single-partition window anywhere in the plan), which RankSpec
    * pins exactly equal to `ntile(4) OVER (ORDER BY awl, doc_id)`; the
    * report stage is unchanged. */
  val qDocsCurriculum: Q = (s, d) =>
    Rank.withNtile(
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("cast(size(split(coalesce(text, ''), ' ')) as bigint)").as("tok"))
        .withColumn("awl", Num.roundd(col("n_chars").cast("double") / col("tok"), 6)),
      Seq(col("awl"), col("doc_id")), 4, "phase")
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("toks"),
        Num.roundd(Num.roundd(sum("awl"), 8) / count(lit(1)), 6).as("avg_awl"),
        countDistinct("lang").as("n_langs"))
      .orderBy("phase")

  /** Reciprocal-rank fusion of two retrieval channels — the standard
    * hybrid-search combiner (RRF, Cormack et al. 2009: score =
    * Σ 1/(60+rank)): channel A ranks by exact cosine, channel B by
    * Hamming distance over 1-bit sign quantization (the q_emb_binary_quant
    * storage format). Fusing a full-precision and a quantized ranker is
    * the shape a production hybrid index runs (dense + compressed tiers).
    *
    * Determinism: ranks come from row_number with id tie-breaks — cosine
    * bit-reproducible (graft_cosine ≡ list_cosine_similarity), Hamming
    * exact integer — and the RRF score is a two-term sum of the SAME two
    * dyadic-denominator doubles on both engines. Scale: the 20-row query
    * side broadcasts onto one corpus scan; at 100 TB each channel feeds
    * from its ANN/bit index shortlist instead and the fusion stage is
    * unchanged (rank windows partition by query — embarrassingly
    * parallel). */
  val qSimRrfFusion: Q = (s, d) => {
    // r17: Hamming via the popcount identity |q⊕c| = Σq + Σc − 2·⟨q,c⟩ —
    // the per-row bit sums are computed ONCE per vector and the per-PAIR
    // work is one codegen'd graft_dot_long, where the zip_with+aggregate
    // form paid an interpreted lambda per element per pair. Integers
    // throughout — identical counts.
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .withColumn("bits", expr("transform(embedding, x -> if(x >= cast(0 as float), 1L, 0L))"))
      .withColumn("nb", expr("aggregate(bits, 0L, (a, x) -> a + x)"))
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("bits").as("qb"), col("nb").as("qnb"))
    val cs = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("bits").as("cb"), col("nb").as("cnb"))
    val wa = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
    val wb = Window.partitionBy("qid").orderBy(col("ham").asc, col("cid"))
    val wf = Window.partitionBy("qid").orderBy(col("rrf").desc, col("cid"))
    cs.crossJoin(broadcast(qs))
      .withColumn("cos", Llm.cosineNative(s, "qv", "cv"))
      .withColumn("ham",
        col("qnb") + col("cnb") - lit(2L) * expr("graft_dot_long(qb, cb)"))
      .withColumn("ra", row_number().over(wa).cast("long"))
      .withColumn("rb", row_number().over(wb).cast("long"))
      .withColumn("rrf", Num.roundd(
        lit(1.0) / (col("ra") + 60).cast("double") + lit(1.0) / (col("rb") + 60).cast("double"), 6))
      .withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= 5)
      .select("qid", "cid", "ra", "rb", "rrf")
      .orderBy(col("qid"), col("rrf").desc, col("cid"))
  }

  /** Maximal-marginal-relevance diversification (Carbonell & Goldstein
    * 1998): greedy re-rank of each query's candidate pool — pick k=5,
    * each step maximizing λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s), λ=0.7 —
    * the anti-redundancy stage a RAG retriever runs between ANN shortlist
    * and prompt assembly.
    *
    * The greedy loop is 5 driver-side iterations over VOCABULARY-scale
    * data (shortlists, not the corpus): each step anti-joins the picked
    * set, computes the max-similarity penalty against ≤4 picked rows per
    * query (broadcast), and takes one row_number. At 100 TB the pools
    * come from the ANN index (≤ k·probes rows/query) so the loop cost is
    * independent of corpus size. Determinism: rel and penalty pre-rounded
    * at 6 (bit-reproducible cosine), the blend is the same two-term
    * double expression both engines, ties break on cid; the oracle
    * UNROLLS the same 5 steps as chained CTEs (the q_graph_pagerank
    * device — independent formulation, no fold). */
  val qSimMmr: Q = (s, d) => {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cs = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    // relevance stays a distributed codegen'd expression — the scan-sized
    // stage; the 5-step greedy then runs PER QUERY inside one mapGroups
    // task (candidates per query are shortlist-bounded by construction),
    // replacing the former 5 chained Spark jobs: the greedy loop is
    // sequential in its own picks, so the right distribution axis is
    // queries, not steps. Scalar arithmetic below replicates the codegen
    // expressions exactly (sequential fma order, roundd), so the result
    // is bit-identical to the unrolled-CTE oracle.
    val base = cs.crossJoin(broadcast(qs))
      .withColumn("rel", Num.roundd(Llm.cosineNative(s, "qv", "cv"), 6))
      .select(col("qid"), col("cid"), col("rel"), col("cv"))
    def r6(x: Double): Double = {
      val m = math.floor(math.abs(x) * 1e6 + 0.5) / 1e6
      if (x < 0) -m else m
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    base.as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float])]) =>
        val cands = it.map { case (_, cid, rel, cv) => (cid, rel, cv) }.toArray
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val used = scala.collection.mutable.Set.empty[Long]
        // a pool smaller than 5 exhausts: picks simply stop (no padding)
        for (pick <- 1L to math.min(5L, cands.length.toLong)) {
          var best: (Double, Long, Double) = null // (score, cid, rel)
          cands.foreach { case (cid, rel, cv) =>
            if (!used(cid)) {
              val score =
                if (chosen.isEmpty) r6(0.7 * rel)
                else {
                  val pen = chosen.map(sv => r6(cos(cv, sv))).max
                  r6(0.7 * rel - 0.3 * pen)
                }
              if (best == null || score > best._1 || (score == best._1 && cid < best._2))
                best = (score, cid, rel)
            }
          }
          used += best._2
          chosen += cands.find(_._1 == best._2).get._3
          picked += ((qid, pick, best._2, best._3, best._1))
        }
        picked.iterator
      }
      .toDF("qid", "pick", "cid", "rel", "score")
      .orderBy("qid", "pick")
  }

  /** Hard-negative mining for contrastive training: per query vector, the
    * 5 most similar corpus vectors with a DIFFERENT class label — exactly
    * the near-miss negatives a dual-encoder trainer pairs with each
    * anchor. The label filter rides the broadcast-join predicate, so
    * mismatched pairs never materialize columns beyond the join keys;
    * at 100 TB the candidate stream comes from the ANN shortlist and this
    * becomes a post-filter on ≤ k·probes rows per query. */
  val qEmbHardNegatives: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
    val qs = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("label").as("ql"), col("embedding").as("qv"))
    val cs = e.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("cid"), col("label").as("cl"), col("embedding").as("cv"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    cs.join(broadcast(qs), col("cl") =!= col("ql"))
      .withColumn("sim", Num.roundd(Llm.cosineNative(s, "qv", "cv"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("qid", "ql", "cid", "cl", "sim", "rank")
      .orderBy("qid", "rank")
  }

  // ---- catalog ------------------------------------------------------------

  /** The q_sim_mmr oracle: the same 5 greedy steps UNROLLED as chained
    * CTEs (independent formulation — joins + row_number, no loop). */
  private def mmrOracle: String = {
    val steps = (2 to 5).map { i =>
      s"p$i AS (SELECT b.qid, b.cid, b.rel, " +
        "max(round(list_cosine_similarity(ca.cv, cb.cv), 6)) pen " +
        s"FROM base b JOIN sel${i - 1} s ON s.qid = b.qid " +
        "JOIN cs ca ON ca.cid = b.cid JOIN cs cb ON cb.cid = s.cid " +
        s"LEFT JOIN sel${i - 1} x ON x.qid = b.qid AND x.cid = b.cid " +
        "WHERE x.cid IS NULL GROUP BY 1, 2, 3), " +
        s"s$i AS (SELECT qid, CAST($i AS BIGINT) pick, cid, rel, score FROM " +
        "(SELECT qid, cid, rel, round(0.7::DOUBLE*rel - 0.3::DOUBLE*pen, 6) score, " +
        "row_number() OVER (PARTITION BY qid ORDER BY round(0.7::DOUBLE*rel - 0.3::DOUBLE*pen, 6) DESC, cid) rn " +
        s"FROM p$i) WHERE rn = 1), " +
        s"sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)"
    }.mkString(", ")
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
      "qs AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 20), " +
      "cs AS (SELECT vec_id cid, v cv FROM e WHERE vec_id >= 20), " +
      "base AS (SELECT qid, cid, round(list_cosine_similarity(qv, cv), 6) rel FROM qs CROSS JOIN cs), " +
      "s1 AS (SELECT qid, CAST(1 AS BIGINT) pick, cid, rel, round(0.7::DOUBLE * rel, 6) score FROM " +
      "(SELECT qid, cid, rel, row_number() OVER (PARTITION BY qid ORDER BY round(0.7::DOUBLE * rel, 6) DESC, cid) rn FROM base) " +
      "WHERE rn = 1), " +
      "sel1 AS (SELECT * FROM s1), " + steps +
      " SELECT qid, pick, cid, rel, score FROM sel5 ORDER BY qid, pick"
  }

  val all: Seq[Entry] = Seq(
    Entry("q_sim_mmr", qSimMmr, Some(mmrOracle)),
    Entry("q_sim_eval_metrics", qSimEvalMetrics, Some(
      "WITH q AS (SELECT vec_id qid, CAST(embedding AS DOUBLE[]) qv FROM embeddings WHERE vec_id < 20), " +
        "c AS (SELECT vec_id cid, CAST(embedding AS DOUBLE[]) cv FROM embeddings WHERE vec_id >= 20), " +
        "qq AS (SELECT qid, qv, list_transform(qv, x -> CAST(floor(x * 127.0 / " +
        "list_max(list_transform(qv, y -> abs(y))) + 0.5) AS BIGINT)) qi FROM q), " +
        "cq AS (SELECT cid, cv, list_transform(cv, x -> CAST(floor(x * 127.0 / " +
        "list_max(list_transform(cv, y -> abs(y))) + 0.5) AS BIGINT)) ci FROM c), " +
        "pr AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos, list_dot_product(qi, ci) qdot " +
        "FROM qq CROSS JOIN cq), " +
        "rk AS (SELECT qid, cid, " +
        "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) grk, " +
        "row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cid) prk FROM pr), " +
        "hits AS (SELECT qid, prk, CASE WHEN grk <= 10 THEN 1 ELSE 0 END rel FROM rk WHERE prk <= 10) " +
        "SELECT qid, round(sum(rel) / 10.0, 6) recall, " +
        "round(coalesce(max(CASE WHEN rel = 1 THEN CAST(1 AS DOUBLE) / prk END), 0.0), 6) mrr, " +
        "round(sum(rel / log2(CAST(prk + 1 AS DOUBLE))) / " +
        "(SELECT sum(CAST(1 AS DOUBLE) / log2(CAST(i + 1 AS DOUBLE))) FROM range(1, 11) t(i)), 6) ndcg " +
        "FROM hits GROUP BY qid ORDER BY qid")),
    Entry("q_docs_curriculum", qDocsCurriculum, Some(
      "WITH sc AS (SELECT doc_id, lang, n_chars, " +
        "CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) tok FROM documents), " +
        "aw AS (SELECT doc_id, lang, tok, round(CAST(n_chars AS DOUBLE) / tok, 6) awl FROM sc), " +
        "ph AS (SELECT lang, tok, awl, CAST(ntile(4) OVER (ORDER BY awl, doc_id) AS BIGINT) phase FROM aw) " +
        "SELECT phase, CAST(count(*) AS BIGINT) n_docs, CAST(sum(tok) AS BIGINT) toks, " +
        "round(round(sum(awl), 8) / count(*), 6) avg_awl, CAST(count(DISTINCT lang) AS BIGINT) n_langs " +
        "FROM ph GROUP BY 1 ORDER BY 1")),
    Entry("q_sim_rrf_fusion", qSimRrfFusion, Some(
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
        "b AS (SELECT vec_id, v, list_transform(v, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) bits FROM e), " +
        "qs AS (SELECT vec_id qid, v qv, bits qb FROM b WHERE vec_id < 20), " +
        "cs AS (SELECT vec_id cid, v cv, bits cb FROM b WHERE vec_id >= 20), " +
        "sc AS (SELECT qid, cid, list_cosine_similarity(qv, cv) cos, " +
        "CAST(list_sum(list_transform(range(1, 65), i -> CASE WHEN qb[i] <> cb[i] THEN 1 ELSE 0 END)) AS BIGINT) ham " +
        "FROM qs CROSS JOIN cs), " +
        "rk AS (SELECT qid, cid, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) ra, " +
        "CAST(row_number() OVER (PARTITION BY qid ORDER BY ham ASC, cid) AS BIGINT) rb FROM sc), " +
        "f AS (SELECT qid, cid, ra, rb, round(1.0::DOUBLE/(60 + ra) + 1.0::DOUBLE/(60 + rb), 6) rrf FROM rk) " +
        "SELECT qid, cid, ra, rb, rrf FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) rn FROM f) " +
        "WHERE rn <= 5 ORDER BY qid, rrf DESC, cid")),
    Entry("q_emb_hard_negatives", qEmbHardNegatives, Some(
      "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings), " +
        "qs AS (SELECT vec_id qid, label ql, v qv FROM e WHERE vec_id < 20), " +
        "cs AS (SELECT vec_id cid, label cl, v cv FROM e WHERE vec_id >= 20), " +
        "sc AS (SELECT qid, ql, cid, cl, round(list_cosine_similarity(qv, cv), 6) sim " +
        "FROM qs JOIN cs ON cl <> ql), " +
        "rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) rank FROM sc) " +
        "SELECT qid, ql, cid, cl, sim, rank FROM rk WHERE rank <= 5 ORDER BY qid, rank")),
  )
}
