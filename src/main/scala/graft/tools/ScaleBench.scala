package graft.tools

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.{Harness, SparkEntry, Tables}

/** Scale-up evidence harness (VERDICT r11 missing #4): BASELINE.md argues
  * the per-query floor (~50-110 ms per execution on this VM) is a
  * constant that AMORTIZES as data grows — this tool turns that argument
  * into a measured artifact. It derives deterministic 10× and 100×
  * slices of the sf0.1 EVENTS table (each copy k remaps
  * event_id → id·F+k and user_id → id + k·10⁷ — 10×/100× the users each
  * producing the same traffic shape, the realistic growth axis; all
  * other tables pass through unchanged), then times the events-reading
  * bench head at every scale under the Bench methodology (warm codegen
  * pass, cached input relation, two timed passes, min, steal-sampled).
  *
  * Reading the artifact: a floor-bound query (fixed-size output panel,
  * e.g. the 120-bucket matrix profile) should grow time ≪ factor; a
  * scan-bound query should grow ≈ linearly but with per-row cost intact
  * — either way, seconds-per-input-row falls as the factor rises, which
  * is the 100 TB claim in measurable form.
  *
  * Usage: runMain graft.tools.ScaleBench [sfDir] [outJson] [factor...]
  *
  * Passing explicit factors limits the run to those slices — the
  * per-factor artifacts (outJson.f<N>) can then come from SEPARATE JVMs
  * and be merged with the same tool (`merge` as the first factor arg):
  * measured r12, a multi-factor JVM accumulates enough shuffle/GC debris
  * that a later factor's heaviest query lands in a stall storm
  * (q_ts_sliding_topk at 100×: 7–12 s in a fresh JVM across 6 passes,
  * 87–149 s as the third factor of one JVM) — fresh-JVM-per-factor is
  * the honest protocol. */
object ScaleBench {

  /** Events-reading bench head: heavy aggregation/window shapes plus
    * deliberately floor-bound light queries. */
  val head: Seq[String] = Seq(
    "q_ts_vwap", "q_ts_winsorize", "q_ts_sliding_topk", "q_ts_matrix_profile",
    "q_ts_mad", "q_ts_level_shift", "q_ts_tumbling", "q_ts_delta",
    "q_ts_last_point", "q_ts_histogram")

  /** LLM-pipeline head (VERDICT r12 missing #2): the dedup/ANN paths whose
    * 100 TB claims rested on plan-shape arguments — documents and
    * embeddings now scale with the factor (distinct copies, see slice()),
    * so lshCandidates → incrementalDedup → annBatchMultiprobe → semdedup
    * amortization is MEASURED. q_dedup_exact/q_text_quality are the
    * linear baselines; q_sim_topk the brute-force embedding scan.
    * Ingest-time state (signature index, by-bucket ANN layout) is built
    * per scaled dir during the untimed warm pass — the timed passes
    * measure the screen/probe, the quantity that runs per batch at
    * 100 TB. */
  val llmHead: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_cluster", "q_dedup_lsh_verified",
    "q_dedup_incremental", "q_emb_semdedup_scaled", "q_ann_batch_multiprobe",
    "q_text_quality", "q_sim_topk",
    // r16: the 64-bit gram-hash shuffle diet's scale evidence — the
    // substring-dedup audit report is corpus-gram-shaped like the
    // contamination screen, and its big shuffle now carries 16-byte rows
    "q_text_substring_dup")

  /** Geo head: customers scale with the factor (distinct key-derived
    * points per copy — see slice()), suppliers stay fixed (the fence/
    * hub dimension does not grow with the corpus). Expected shapes:
    * bbox join and nearest-hub linear in points (broadcast dim side);
    * grid_cluster FLOOR-BOUND once every cell of the fixed 18×36 grid
    * is core (the cell graph is bounded by the grid, not the corpus);
    * trajectory linear with constant per-user window size (events and
    * users both scale); geofence linear in events against the fixed
    * fence set. */
  val geoHead: Seq[String] = Seq(
    "q_geo_bbox_join", "q_geo_nearest_hub", "q_geo_grid_cluster",
    "q_geo_hub_distance", "q_geo_trajectory", "q_stream_geofence")

  /** Stats/rank head (round 14): the single-pass sufficient-statistic
    * rewrites and the global-rank family, all events-driven so they
    * scale with the factor. Expected shapes: bootstrap/seq_entropy/
    * mutual_info LINEAR (one aggregate over the scan; the driver folds
    * are vocab-bounded regardless of rows); fair_share/rfm linear in
    * the user rollup through the range-partitioned rank machinery;
    * KS linear to its distinct-value rollup. (q_abc_pareto is NOT here:
    * it rides orders, which slices copy verbatim — see slice().) */
  val statsHead: Seq[String] = Seq(
    "q_stat_bootstrap_ci", "q_seq_entropy", "q_stat_mutual_info",
    "q_ops_fair_share", "q_rfm_segments", "q_stat_ks")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "BENCH_SCALE_r13.json"
    if (args.length > 2 && args(2) == "merge") { mergeParts(out); return }
    val factors = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(1, 10, 100)
    val partSuffix = if (args.length > 2) s".f${factors.mkString("_")}" else ""
    val spark = Harness.session()

    def slice(factor: Int): String =
      if (factor == 1) sfDir
      else {
        val dir = s"/tmp/graft_scale_${factor}x"
        if (!new File(s"$dir/_DONE3").exists) {
          val d = new File(dir)
          if (d.exists) {
            def rm(f: File): Unit = {
              if (f.isDirectory) f.listFiles.foreach(rm)
              f.delete(); ()
            }
            rm(d)
          }
          d.mkdirs()
          val k = spark.range(factor).select(col("id").as("__k"))
          Tables.events(spark, sfDir)
            .crossJoin(broadcast(k))
            .select(
              (col("event_id") * factor + col("__k")).as("event_id"),
              col("ts").cast("timestamp").as("ts"),
              (col("user_id") + col("__k") * 10000000L).as("user_id"),
              col("event_type"), col("value"), col("props"))
            .repartition(Harness.cpus)
            .write.mode("overwrite").parquet(s"$dir/events.parquet")
          // documents: copy k gets DISTINCT text — every token suffixed
          // with _k (copy 0 passes through verbatim, so the base corpus
          // is an exact subset). Distinctness is the realism requirement:
          // identical copies would hand the LSH/minhash tier a corpus
          // where EVERY doc has F exact twins — candidate volume would
          // grow F², an artifact of the device, not of growth. Suffixed
          // copies keep the duplicate RATE of the base corpus at every
          // factor (each original near/exact-dup family reappears once
          // per copy), which is how a real corpus grows.
          Tables.documents(spark, sfDir)
            .crossJoin(broadcast(k))
            .select(
              (col("doc_id") * factor + col("__k")).as("doc_id"),
              when(col("__k") === 0, col("text")).otherwise(
                regexp_replace(col("text"), lit("(\\S+)"),
                  concat(lit("$1_"), col("__k")))).as("text"),
              col("lang"), col("source"), col("n_chars"))
            .repartition(Harness.cpus)
            .write.mode("overwrite").parquet(s"$dir/documents.parquet")
          // embeddings: copy k nudged by k·1e-6 per element — direction
          // (SRP bucket) preserved, so buckets grow ~F like uniformly
          // growing data, while pair distances stay non-degenerate
          Tables.embeddings(spark, sfDir)
            .crossJoin(broadcast(k))
            .select(
              (col("vec_id") * factor + col("__k")).as("vec_id"),
              expr("transform(embedding, x -> cast(x + __k * 1e-6 as float))")
                .as("embedding"),
              col("label"))
            .repartition(Harness.cpus)
            .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
          // customers: copy k remaps the key (→ distinct derived geo
          // points per copy, the events device); nation/segment pass
          // through so dim joins keep their cardinality.
          // CONSTRAINT (ADVICE r13): orders.parquet below is copied
          // VERBATIM, so o_custkey dangles for every remapped copy k > 0 —
          // customer is a GEO-ONLY table at factor > 1. A future head
          // query joining orders→customer on a scaled slice would match
          // ~1/factor of rows and silently benchmark a near-empty join;
          // remap o_custkey the same way first if one is ever added.
          Tables.customer(spark, sfDir)
            .crossJoin(broadcast(k))
            .select(
              (col("c_custkey") * factor + col("__k")).as("c_custkey"),
              col("c_name"), col("c_nationkey"), col("c_acctbal"),
              col("c_mktsegment"))
            .repartition(Harness.cpus)
            .write.mode("overwrite").parquet(s"$dir/customer.parquet")
          for (t <- Seq("region", "nation", "supplier", "part",
              "orders", "lineitem"))
            Files.copy(Paths.get(s"$sfDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"),
              StandardCopyOption.REPLACE_EXISTING)
          Files.writeString(Paths.get(s"$dir/_DONE3"), "ok")
          ()
        }
        dir
      }

    val qs = SparkEntry.queries
    // SPARK_GRAFT_SCALE_HEAD=q_a,q_b narrows the timed head — the
    // 1000× factor runs a representative subset (slice build + warm +
    // ingest-state cost per query is minutes at that volume)
    val headFilter = sys.env.get("SPARK_GRAFT_SCALE_HEAD").map(_.split(",").toSet)
    val allHead = (head ++ llmHead ++ geoHead ++ statsHead)
      .filter(n => headFilter.forall(_.contains(n)))
    val results: Seq[(Int, Long, Double, Seq[(String, Double, Double)])] = factors.map { f =>
      val dir = slice(f)
      val ev = Tables.events(spark, dir)
      val rows = ev.cache().count()
      Tables.documents(spark, dir).cache().count()
      Tables.embeddings(spark, dir).cache().count()
      Tables.customer(spark, dir).cache().count()
      // warm each query once AT THE TARGET SCALE, untimed: a fresh JVM's
      // first heavy execution pays a 10-20x CPU warm-up penalty (measured
      // r12 on the 12.6M-row delta sort: 145 -> 17 -> 6.6 -> 6.0 s over
      // four identical passes, both at 8g and 32g, steal < 0.3%) — the
      // sf0.001 codegen warm-up does not absorb it. The artifact reports
      // steady-state scaling, which is the quantity the 100 TB claim is
      // about; pass-1 JVM warm-up amortizes over a cluster's lifetime.
      // For the LLM head the warm pass ALSO builds the per-dir ingest
      // state (signature index, by-bucket ANN layout) — ingest-time work
      // a pipeline pays once, outside the per-batch screen/probe cost.
      // Three warm passes: heads whose hot loop is one giant codegen
      // stage (q_geo_nearest_hub: a 375M-row broadcast-join-aggregate)
      // need ~5 executions before C2 finishes
      // — measured r16: warm+2 read 26.0 s where a 7-pass run converges
      // to 8.5 s. r17 (VERDICT r16 #1): three IS the committed protocol
      // — the r15/r16 records twice let a C2-warmup artifact stand on the
      // permanent f1000 sidecar (nearest_hub 10.8 vs 8.5 s converged,
      // sliding_topk 17.4 vs 11.8 s standalone); three warm executions
      // plus the two timed passes put every head at or past the ~5-run
      // JIT convergence point, so the record measures the PLAN. One
      // number per head, no dual bookkeeping; BASELINE.md carries the
      // protocol note.
      (1 to 3).foreach { _ =>
        allHead.foreach { n => qs(n)(spark, dir).count() }
      }
      val t0 = Harness.cpuTicks()
      val timed = allHead.map { n =>
        val ts = Seq.fill(2) {
          val s0 = System.nanoTime()
          qs(n)(spark, dir).count()
          (System.nanoTime() - s0) / 1e9
        }
        (n, ts.head, ts(1))
      }
      val stealPct = Harness.stealPct(t0, Harness.cpuTicks())
      ev.unpersist()
      Tables.documents(spark, dir).unpersist()
      Tables.embeddings(spark, dir).unpersist()
      Tables.customer(spark, dir).unpersist()
      (f, rows, stealPct, timed)
    }
    val body = results.map { case (f, rows, stealPct, timed) =>
      val qj = timed.map { case (n, p1, p2) =>
        val mn = math.min(p1, p2)
        f""""$n":{"p1":$p1%.4f,"p2":$p2%.4f,"min":$mn%.4f}"""
      }.mkString(",")
      val tot = timed.map(t => math.min(t._2, t._3)).sum
      f"""{"factor":$f,"cpus":${Harness.cpus},"event_rows":$rows,"steal_pct":$stealPct%.3f,"total_min":$tot%.4f,"queries":{$qj}}"""
    }.mkString(",")
    val json = s"""{"sf_base":"$sfDir","factors":[$body]}\n"""
    Files.writeString(Paths.get(out + partSuffix), json)
    println(json)
    spark.stop()
    if (partSuffix.isEmpty) mergeSelf(out) // annotate x_vs_base in place
  }

  /** Merge per-factor part artifacts (out.f1, out.f10, out.f100 — or any
    * out.f* present) into `out`, recomputing x_vs_base against the
    * smallest factor. Also used in-place for a single-JVM all-factors
    * run. */
  private def mergeParts(out: String): Unit = {
    val dir = Option(new File(out).getAbsoluteFile.getParent).getOrElse(".")
    val base = new File(out).getName
    val parts = new File(dir).listFiles()
      .filter(f => f.getName.startsWith(base + ".f"))
      .sortBy(_.getName.stripPrefix(base + ".f").takeWhile(_.isDigit).toInt)
    require(parts.nonEmpty, s"ScaleBench merge: no $base.f* parts in $dir")
    val factorBodies = parts.flatMap { f =>
      val s = Files.readString(f.toPath)
      val i = s.indexOf("\"factors\":[")
      s.substring(i + "\"factors\":[".length, s.lastIndexOf("]")).split("(?<=\\}),(?=\\{\"factor\")")
    }
    val sf = {
      val s = Files.readString(parts.head.toPath)
      s.substring(s.indexOf("\"sf_base\":\"") + 11).takeWhile(_ != '"')
    }
    Files.writeString(Paths.get(out),
      s"""{"sf_base":"$sf","factors":[${factorBodies.mkString(",")}]}\n""")
    mergeSelf(out)
  }

  /** Recompute and inject x_vs_base per query against the first factor. */
  private def mergeSelf(out: String): Unit = {
    val s = Files.readString(Paths.get(out))
    val minRe = """"(q_[a-z0-9_]+)":\{"p1":([0-9.]+),"p2":([0-9.]+),"min":([0-9.]+)\}""".r
    val factorChunks = s.split("""(?=\{"factor":)""").toSeq
    val baseMins: Map[String, Double] = factorChunks.drop(1).headOption.map { c =>
      minRe.findAllMatchIn(c).map(m => m.group(1) -> m.group(4).toDouble).toMap
    }.getOrElse(Map.empty)
    if (baseMins.isEmpty) return
    val rewritten = minRe.replaceAllIn(s, m => {
      val (n, mn) = (m.group(1), m.group(4).toDouble)
      val x = baseMins.get(n).filter(_ > 0).map(b => mn / b).getOrElse(1.0)
      java.util.regex.Matcher.quoteReplacement(
        f""""$n":{"p1":${m.group(2)},"p2":${m.group(3)},"min":${m.group(4)},"x_vs_base":$x%.3f}""")
    })
    Files.writeString(Paths.get(out), rewritten)
    println(rewritten)
  }
}
