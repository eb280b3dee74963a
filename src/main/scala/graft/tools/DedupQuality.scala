package graft.tools

import graft.{Harness, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup QUALITY-at-scale sweep (VERDICT r13 missing #4): ANN_RECALL.md
  * proves the ANN tiers retrieve planted families at 1000×; nothing
  * equivalent proved the LSH cascade's pair quality as the corpus grows.
  * This measures, per ScaleBench slice (1×/10×/100×/1000×), the cascade
  * the catalog actually gates (threshold 0.2, 8 hashes, 4 bands, 3-gram
  * shingles — q_dedup_lsh_verified/_cluster/_survivors):
  *
  *   - candidate precision  = verified / candidates (wasted-verify ratio —
  *     the quantity that can silently collapse as buckets fill),
  *   - pair recall          = verified / (F × true pairs at 1×),
  *   - verified-pair purity = cross-copy verified pairs (MUST be 0: scaled
  *     slices suffix every token per copy, so true near-dups never cross
  *     copies — any cross-copy pair surviving the exact-Jaccard verify
  *     would be a correctness bug, not a quality loss),
  *   - cluster / survivor counts vs the ×F linear expectation.
  *
  * Ground truth at 1× is BRUTE-FORCE exact 3-gram Jaccard over all pairs
  * of the base corpus (5000 docs ⇒ 12.5M pairs — feasible once, here
  * only). The ScaleBench copy device (every token suffixed `_k` in copy
  * k) makes truth at ×F exactly F disjoint replicas of truth at 1×:
  * suffixing is a bijection on tokens, so within-copy Jaccard is
  * preserved and cross-copy shingle sets are disjoint. No brute force is
  * needed — or possible — at 1000×, which is the point: the expectation
  * is exact, not sampled.
  *
  * Usage: `sbt "runMain graft.tools.DedupQuality [out.md] [f:dir ...]"`
  * (defaults: DEDUP_QUALITY.md over sf0.1 + /tmp/graft_scale_{10,100,1000}x;
  * missing slice dirs are reported and skipped). Fixture-scale floors are
  * pinned in OperatorSpec ("LSH cascade quality floors").
  */
object DedupQuality {

  /** All (id_a < id_b) pairs with exact n-gram Jaccard ≥ threshold —
    * O(n²) BY DESIGN (ground truth only, never a serving path). */
  def bruteTruth(docs: DataFrame, threshold: Double, n: Int = 3): DataFrame = {
    val sh = Dedup.withShinglesFast(docs.select(col("doc_id"), col("text")), "text", n)
    val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("__ga"))
    val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("__gb"))
    a.join(b, col("id_a") < col("id_b"))
      .repartition(96)
      .withColumn("__i", size(array_intersect(col("__ga"), col("__gb"))))
      .filter(col("__i") > 0)
      .withColumn("jaccard", col("__i").cast("double") /
        (size(col("__ga")) + size(col("__gb")) - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  final case class SliceStats(factor: Long, nDocs: Long, nCand: Long,
      nScreened: Long, nVerified: Long, crossCopyVerified: Long,
      nClusters: Long, nSurvivors: Long, secs: Double)

  def measure(spark: SparkSession, dir: String, factor: Long,
              threshold: Double = 0.2, numHashes: Int = 8, bands: Int = 4,
              n: Int = 3, estHashes: Int = 64): SliceStats = {
    val t0 = System.nanoTime()
    val docs = Tables.documents(spark, dir).persist()
    val nDocs = docs.count()
    // the REAL shipping cascade carries the timing (screen + checkpointed
    // signatures + pruned verify — whatever nearDupPairs does is what the
    // secs column reports)
    val verified = Dedup.nearDupPairs(docs, "doc_id", "text",
        threshold, numHashes, bands, n, estHashes)
      .select("id_a", "id_b")
      .persist()
    val nVer = verified.count()
    // copy index of id = id mod F (slice ids are orig·F + k); a verified
    // pair crossing copies would be a false "true" pair — impossible if
    // the exact verify is correct, so 0 is an invariant, not a target
    val cross =
      if (factor <= 1) 0L
      else verified.filter(pmod(col("id_a"), lit(factor)) =!=
        pmod(col("id_b"), lit(factor))).count()
    val comp = Dedup.connectedComponents(verified)
    val nClusters = comp.select("lbl").distinct().count()
    val nDropped = comp.filter(col("id") =!= col("lbl")).count()
    val nSurvivors = nDocs - nDropped
    val secs = (System.nanoTime() - t0) / 1e9
    // UNTIMED observability: the staged mirror's candidate / screened
    // cardinalities (OperatorSpec holds the mirror's pair set equal to
    // the shipping cascade's)
    val sigsE = Dedup.minHashFromText(
      docs.select(col("doc_id"), col("text")), "text", estHashes, n).persist()
    val cands = Dedup.lshCandidates(
      sigsE.withColumn("sig", expr(s"slice(sig, 1, $numHashes)")),
      "doc_id", bands).persist()
    val nCand = cands.count()
    val minAgree = Dedup.prefilterMinAgree(threshold, estHashes)
    val nScreened = cands
      .join(sigsE.select(col("doc_id").as("id_a"), col("sig").as("__ea")), "id_a")
      .join(sigsE.select(col("doc_id").as("id_b"), col("sig").as("__eb")), "id_b")
      .filter(expr(s"graft_sig_agree(__ea, __eb) >= $minAgree"))
      .count()
    docs.unpersist(); sigsE.unpersist(); cands.unpersist(); verified.unpersist()
    SliceStats(factor, nDocs, nCand, nScreened, nVer, cross, nClusters,
      nSurvivors, secs)
  }

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("DEDUP_QUALITY.md")
    val defaults = Seq(
      1L -> "/root/testdata/sf0.1",
      10L -> "/tmp/graft_scale_10x",
      100L -> "/tmp/graft_scale_100x",
      1000L -> "/tmp/graft_scale_1000x")
    val slices =
      if (args.length > 1) args.drop(1).toSeq.map { a =>
        val Array(f, d) = a.split(":", 2); (f.toLong, d)
      } else defaults
    val spark = Harness.session()

    val (threshold, numHashes, bands) = (0.2, 8, 4)
    val base = slices.head._2
    println(s"[dedupquality] brute-force ground truth over $base ...")
    val truth = bruteTruth(Tables.documents(spark, base), threshold).persist()
    val t1 = truth.count()
    val truthComp = Dedup.connectedComponents(truth.select("id_a", "id_b"))
    val c1 = truthComp.select("lbl").distinct().count()
    val d1 = truthComp.filter(col("id") =!= col("lbl")).count()
    val n1 = Tables.documents(spark, base).count()
    println(s"[dedupquality] truth: $t1 pairs, $c1 clusters, ${n1 - d1} survivors of $n1")

    val rows = slices.flatMap { case (f, dir) =>
      if (!new java.io.File(dir).isDirectory) {
        println(s"[dedupquality] SKIP ${f}x — $dir missing (run ScaleBench first)")
        None
      } else {
        val st = measure(spark, dir, f, threshold, numHashes, bands)
        println(f"[dedupquality] ${f}x: docs=${st.nDocs} cand=${st.nCand} " +
          f"screened=${st.nScreened} ver=${st.nVerified} cross=${st.crossCopyVerified} " +
          f"clusters=${st.nClusters} survivors=${st.nSurvivors} (${st.secs}%.1f s)")
        Some(st)
      }
    }

    val sb = new StringBuilder
    sb ++= "# Dedup quality at scale — LSH cascade precision/recall on planted slices\n\n"
    sb ++= s"Cascade under test: the gated pipeline (threshold $threshold, $numHashes hashes,\n"
    sb ++= s"$bands bands, 3-gram shingles — q_dedup_lsh_verified/_cluster/_survivors).\n"
    sb ++= s"Ground truth at 1x: brute-force exact Jaccard over all ${n1}-doc pairs of\n"
    sb ++= s"`$base` ($t1 true pairs, $c1 clusters incl. singletons-after-grouping, ${n1 - d1} survivors).\n"
    sb ++= "ScaleBench copies suffix every token per copy k, so truth at xF is exactly F\n"
    sb ++= "disjoint replicas of 1x truth: expected pairs/clusters/survivors scale LINEARLY,\n"
    sb ++= "and any verified pair crossing copies would be a correctness bug (column must be 0).\n"
    sb ++= "Round 15: candidates pass a 64-hash signature-agreement screen (est-J >=\n"
    sb ++= s"threshold - 2 sigma, minAgree = ${Dedup.prefilterMinAgree(0.2, 64)}/64) before any full-shingle Jaccard runs —\n"
    sb ++= "`screened` is the exact-verify stage's actual input; `verify precision` is its\n"
    sb ++= "useful-work fraction (was the flat ~0.074 `cand precision` before the screen).\n"
    sb ++= "Regenerate: `sbt \"runMain graft.tools.DedupQuality\"` (ScaleBench slices first).\n\n"
    sb ++= "| factor | docs | candidates | screened | verified pairs | expected | pair recall | cand precision | verify precision | cross-copy | clusters | expected | survivors | expected | secs |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|\n"
    rows.foreach { st =>
      val expVer = st.factor * t1
      val expClu = st.factor * c1
      val expSur = st.factor * (n1 - d1)
      sb ++= f"| ${st.factor}x | ${st.nDocs} | ${st.nCand} | ${st.nScreened} | ${
        st.nVerified} | $expVer | ${
        st.nVerified.toDouble / expVer}%.4f | ${
        st.nVerified.toDouble / st.nCand}%.4f | ${
        st.nVerified.toDouble / st.nScreened}%.4f | ${st.crossCopyVerified} | ${
        st.nClusters} | $expClu | ${st.nSurvivors} | $expSur | ${st.secs}%.1f |\n"
    }
    sb ++= "\nReading guide: `pair recall` is verified-pairs / (F x 1x-truth) — sub-1.0\n"
    sb ++= "means banding missed true near-threshold pairs (P[catch | J] = 1-(1-J^2)^4 for\n"
    sb ++= "this band shape, so pairs just above 0.2 are caught probabilistically while\n"
    sb ++= "high-J dup families are near-certain). `cand precision` is the band buckets'\n"
    sb ++= "pair quality (collapse at scale = buckets filling with unrelated docs);\n"
    sb ++= "`verify precision` is the useful-work fraction of the exact-Jaccard stage AFTER\n"
    sb ++= "the signature screen. Verified-pair PRECISION vs truth is 1.0 by construction\n"
    sb ++= "(the verify recomputes exact Jaccard on full shingle sets), independently\n"
    sb ++= "witnessed by the cross-copy column staying 0 at every factor. `secs` times the\n"
    sb ++= "SHIPPING cascade (Dedup.nearDupPairs incl. checkpointed signatures and the\n"
    sb ++= "pruned verify) plus connected components; candidate/screened counts are\n"
    sb ++= "recomputed untimed for this table.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"[dedupquality] wrote $outFile")
    spark.stop()
  }
}
