package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run; `perfbench/run.py` builds it. */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, tiny: String, work: String, queries: String, refs: String, record: Boolean,
    oracle: String, cpus: Int, inject: Set[String], meta: Map[String, String])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("data"), get("tiny"), get("work"), get("queries"), get("refs"), get("record") == "1",
      get("oracle"), get("cpus").toInt,
      m.getOrElse("inject", "").split(',').filter(_.nonEmpty).toSet,
      m.collect { case (k, v) if k.startsWith("meta.") => k.stripPrefix("meta.") -> v })
  }
}

/** A setup step failed; the run stops and names it. */
final class SetupFailed(step: String, cause: Throwable)
  extends RuntimeException(s"setup step '$step' failed: $cause", cause)

/** State shared by a run: the session, the tracing tools and the record. */
final class Ctx(val a: Args, val spark: SparkSession) {
  val spans = new Spans
  val jobs = new JobListener
  val progress = new ProgressListener
  val record = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0L
  private var tracing = false

  def setTracing(on: Boolean): Unit = {
    if (on && !tracing) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    } else if (!on && tracing) {
      drain()
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
    }
    tracing = on
    spans.enabled = on
  }
  def isTracing: Boolean = tracing
  def drain(): Unit = org.apache.spark.perfbench.Bridge.drainListeners(spark.sparkContext)

  def tag(op: String, phase: String): Unit = {
    spark.sparkContext.setLocalProperty(JobTags.Op, op)
    spark.sparkContext.setLocalProperty(JobTags.Phase, phase)
  }

  /** One setup call: timed, spanned, and fatal when it throws. */
  def setupStep[T](name: String, times: mutable.ArrayBuffer[(String, Double)])(body: => T): T = {
    val t0 = System.nanoTime()
    val r = try spans.span(s"setup:$name")(body)
    catch { case NonFatal(e) => throw new SetupFailed(name, e) }
    times += name -> (System.nanoTime() - t0) / 1e9
    r
  }

  /** Hard-linked copy of an input directory: same bytes, new path, so
    * every path-keyed memo in the library builds afresh. */
  def linkCopy(src: String, dst: String): String = {
    val d = new File(dst)
    Main.rmrf(d)
    d.mkdirs()
    new File(src).listFiles().filter(_.isFile).foreach { f =>
      Files.createLink(Paths.get(dst, f.getName), f.toPath)
    }
    dst
  }
}

object Main {
  private val t0 = System.nanoTime()

  /** Setup repetitions per run; `setup_s` takes their median. */
  val SetupReps = 3

  /** Warm passes per run at least, so a per-operation median over them
    * rejects one slow pass. */
  val MinWarmPasses = 3

  /** Progress line on standard error. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
    ()
  }

  /** Runs `f` over `items` on `threads` threads; for untimed warm-up only. */
  def parallel[T, R](threads: Int, items: Seq[T])(f: T => R): Seq[R] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try items.map(i => pool.submit(() => f(i))).map(_.get())
    finally pool.shutdown()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val host0 = Host.sample(a.cpus)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(a, spark)
    val code = try {
      val wl: Workload = a.workload match {
        case "catalog" => new CatalogWorkload(ctx)
        case "stream" => new StreamWorkload(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      val out = wl.run(sessionS)
      val host1 = Host.sample(a.cpus)
      ctx.record ++= Seq(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "cpus" -> a.cpus, "meta" -> a.meta,
        "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql")).toMap,
        "host_before" -> host0, "host_after" -> host1,
        "steal_pct" -> Host.stealPct(host0, host1),
        "attempted" -> ctx.attempted, "failed" -> ctx.failures.size,
        "error_rate" -> ctx.failures.size.toDouble / math.max(1L, ctx.attempted),
        "failures" -> ctx.failures.map { case (n, e) => Map("op" -> n, "error" -> e) },
        "metrics" -> out)
      if (a.trace) ctx.record += "spans" -> ctx.spans.all.map(s => Seq(
        s.id, s.name, s.startNs, s.endNs, s.parent, s.op))
      val recDir = new File(s"${a.work}/records")
      recDir.mkdirs()
      Files.writeString(Paths.get(recDir.getPath,
        s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis}.json"),
        Json(ctx.record))
      val line = Map(
        "correct" -> ctx.failures.isEmpty,
        "attempted" -> ctx.attempted,
        "failed" -> ctx.failures.size,
        "metrics" -> scala.collection.immutable.ListMap(
          out.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*))
      System.out.println(Json(line))
      0
    } catch {
      case e: SetupFailed =>
        System.err.println(s"[perfbench] ${e.getMessage}")
        e.printStackTrace()
        3
    } finally {
      ctx.setTracing(false)
      spark.stop()
    }
    System.out.flush()
    sys.exit(code)
  }
}

/** A workload prints its metrics as name -> (value, unit). */
trait Workload {
  def run(sessionS: Double): Seq[(String, (Double, String))]
}

/** Host condition sampled around the run: CPU ticks (for steal), load
  * average, GC totals, and a fixed CPU loop timed on one thread and on
  * every core, so a slow window shows in the record. */
object Host {
  private def ticks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case NonFatal(_) => (-1L, -1L) }

  private def load(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  private def spin(k: Long): Long = {
    var x = 0x9E3779B97F4A7C15L ^ k
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def calMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong
    val ts = (1 to threads).map(k => new Thread(() => { sink.addAndGet(spin(k)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  def sample(cpus: Int): Map[String, Any] = {
    val (t, s) = ticks()
    Map("ticks" -> t, "steal_ticks" -> s, "loadavg1" -> load(),
      "cal1_ms" -> calMs(1), "calN_ms" -> calMs(cpus), "gc_ms" -> gcMs())
  }

  def stealPct(a: Map[String, Any], b: Map[String, Any]): Double = {
    val dt = b("ticks").asInstanceOf[Long] - a("ticks").asInstanceOf[Long]
    val ds = b("steal_ticks").asInstanceOf[Long] - a("steal_ticks").asInstanceOf[Long]
    if (dt > 0) 100.0 * ds / dt else -1.0
  }
}

/** Minimal JSON writer for the record and the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.fold("null")(apply)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
