package graft

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * so CacheManager substitutes the cached relation in every query),
    * then every fixture some catalog entry `needs`, each once. A pin that
    * fails is reported on stderr by name and skipped. Returns the cached
    * frames; re-counting them re-loads evicted blocks. */
  def pin(spark: SparkSession, sfDir: String): Seq[DataFrame] =
    (Tables.fixtures ++ SparkEntry.entries.flatMap(_.needs).distinct).flatMap { f =>
      try f.pin(spark, sfDir) catch { case NonFatal(e) =>
        System.err.println(s"[pin] ${f.name} failed: $e")
        Nil
      }
    }
}
