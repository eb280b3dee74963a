package graft

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.sources.Ingest

/** What graft's mains (`Bench`, `Verify`, `graft.tools.*`) share: one
  * session shape, one host-steal sampler and Bench's fixture pins. Every
  * record the mains write then describes the same session. */
private[graft] object Harness {

  /** Local cores, from SPARK_GRAFT_CPUS; 4 when unset. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC (the timestamp
    * NTZ casts in `Tables` are wall-clock identities only under UTC), no
    * UI, and `GraftExtensions` (graft's functions, planner rules and
    * codegen-cache defaults). `conf` pairs are set on top. */
  def session(conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run each named catalog query once, untimed, on the sf0.001 tables
    * beside `sfDir`, so JIT warm-up and the codegen of each plan shape
    * happen before any timed run (the cache then hits where a larger
    * scale generates the same source). A query that fails here is
    * reported on stderr by name. */
  def warm(spark: SparkSession, sfDir: String, names: Iterable[String]): Unit = {
    val small = new File(new File(sfDir).getAbsoluteFile.getParentFile, "sf0.001").getPath
    val qs = SparkEntry.queries
    names.foreach { n =>
      try qs(n)(spark, small).count()
      catch { case NonFatal(e) => System.err.println(s"[warm] $n failed: $e") }
    }
  }

  /** (total, steal) jiffies summed over all CPUs from `/proc/stat`, or
    * None where it cannot be read. */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.sum, if (f.length > 7) f(7) else 0L))
      } finally src.close()
    } catch { case NonFatal(_) => None }

  /** Steal share (%) of the window between two `cpuTicks` samples; -1
    * when either is missing, so an unreadable host is flagged rather
    * than recorded as a clean 0. */
  def stealPct(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double =
    (from, to) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => 100.0 * (s1 - s0) / (t1 - t0)
      case _ => -1.0
    }

  /** Materialize Bench's ingest-time state for `sfDir`, so timed runs
    * measure queries over it rather than building it: the ten tables
    * pinned in memory (`Tables.*` builds identical plans on every call,
    * so CacheManager substitutes the cached relation in every query), the
    * IVF index, the partitioned layouts, the mutation fixtures, and the
    * encoded media and dedup sketches a pipeline persists at ingest (both
    * plan shapes the LSH queries build). A pin that fails is reported on
    * stderr by name and skipped. Returns the cached frames; re-counting
    * them re-loads evicted blocks. */
  def pin(spark: SparkSession, sfDir: String): Seq[DataFrame] = {
    def cached(df: => DataFrame): () => Seq[DataFrame] =
      () => { val d = df.cache(); d.count(); Seq(d) }
    def built(f: => Any): () => Seq[DataFrame] = () => { f; Nil }
    def docs = Tables.documents(spark, sfDir)
    val tables = Seq(
      "lineitem" -> Tables.lineitem _, "orders" -> Tables.orders _,
      "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
      "part" -> Tables.part _, "nation" -> Tables.nation _, "region" -> Tables.region _,
      "events" -> Tables.events _, "documents" -> Tables.documents _,
      "embeddings" -> Tables.embeddings _)
    val pins: Seq[(String, () => Seq[DataFrame])] =
      tables.map { case (n, t) => n -> cached(t(spark, sfDir)) } ++ Seq(
        "ivf_index" -> built(Similarity.ivfIndex(
          Tables.embeddings(spark, sfDir), "vec_id", "embedding", k = 8, iters = 1)._1.count()),
        "events_by_day" -> built(Ingest.eventsByDay(spark, sfDir)),
        "embeddings_by_bucket" -> built(Ingest.embeddingsByBucket(spark, sfDir, nPlanes = 6)),
        "bucketed_orders_customer" -> built(Ingest.bucketedOrdersCustomer(spark, sfDir)),
        "events_zordered" -> built(Ingest.eventsZordered(spark, sfDir)),
        "events_hourly_rollup" -> built(Ingest.eventsHourlyRollup(spark, sfDir)),
        "events_with_retention" -> built(Ingest.eventsWithRetention(spark, sfDir)),
        "events_compacted" -> built(Ingest.eventsCompacted(spark, sfDir)),
        "events_text_formats" -> built(Ingest.eventsTextFormats(spark, sfDir)),
        "events_by_day_typed" -> built(Ingest.eventsByDayTyped(spark, sfDir)),
        "events_tiered" -> built(Ingest.eventsTiered(spark, sfDir)),
        "docs_by_shard" -> built(Ingest.docsByShard(spark, sfDir)),
        "ann_cdc_maintained" -> built(Ingest.annCdcMaintained(spark, sfDir)),
        "ann_stream_maintained" -> built(Ingest.annStreamMaintained(spark, sfDir)),
        "ivm_join_pairs" -> built(Ingest.ivmJoinPairs(spark, sfDir)),
        "ivm_join_deleted" -> built(Ingest.ivmJoinDeleted(spark, sfDir)),
        "gdpr_deleted" -> built(Ingest.gdprDeleted(spark, sfDir)),
        "cdc_upserted" -> built(Ingest.cdcUpserted(spark, sfDir)),
        "events_gdpr_deleted" -> built(Ingest.eventsGdprDeleted(spark, sfDir)),
        "events_corrected" -> built(Ingest.eventsCorrected(spark, sfDir)),
        "synthetic_images" -> cached(Multimodal.syntheticImages(spark, sfDir).toDF()),
        "synthetic_wavs" -> cached(Multimodal.syntheticWavs(spark, sfDir).toDF()),
        "minhash_docs" -> cached(Dedup.minHashFromText(docs, "text", 8, 3)),
        "minhash_id_text" -> cached(Dedup.minHashFromText(
          docs.select(col("doc_id"), col("text")), "text", 8, 3)),
        "shingles_docs" -> cached(Dedup.withShinglesFast(docs, "text", 3)))
    pins.flatMap { case (name, p) =>
      try p() catch { case NonFatal(e) =>
        System.err.println(s"[pin] $name failed: $e")
        Nil
      }
    }
  }
}
