package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.functions.GraftExtensions
import graft.streaming.{StatefulDau, StreamReplay, StreamingQueries}

/** `GraftExtensions` sizes Spark's generated-class cache and keeps stream
  * tasks on the executor's shared class loader, so each generated class
  * compiles once per JVM. The cache is a JVM static sized by the first
  * session that compiles, so the checks run in a child JVM on the test
  * classpath (`CodegenReuseCheck`); each test reads one of its results. */
class CodegenReuseSpec extends SparkSuite {

  private val Seq(cacheKey, isolationKey) = CodegenReuseCheck.Keys

  /** The `catalog` benchmark workload's queries. */
  private def catalogQueries: Seq[String] =
    Files.readAllLines(Paths.get("perfbench/catalog_queries.txt")).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** The child's `[codegen] key=value` lines; one run serves every test,
    * a failed one too. */
  private lazy val run: Try[Map[String, String]] = Try {
    val work = Files.createTempDirectory("graft-codegen-reuse")
    try {
      val self = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
          a.startsWith("-agentlib") || a.startsWith("-Djava.io.tmpdir"))
      val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ self ++ Seq(
        "-Xmx1g", s"-Djava.io.tmpdir=$work",
        "-cp", sys.props("java.class.path"),
        CodegenReuseCheck.getClass.getName.stripSuffix("$"),
        sf0001, catalogQueries.mkString(","))
      val log = work.resolve("child.log").toFile
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
      val done = p.waitFor(600, TimeUnit.SECONDS)
      if (!done) p.destroyForcibly()
      val out = new String(Files.readAllBytes(log.toPath), StandardCharsets.UTF_8)
      assert(done && p.exitValue == 0, s"child exit ${if (done) p.exitValue else "timeout"}:\n" +
        out.linesIterator.toSeq.takeRight(40).mkString("\n"))
      out.linesIterator.collect {
        case l if l.startsWith("[codegen] ") && l.contains("=") =>
          val Array(k, v) = l.stripPrefix("[codegen] ").split("=", 2)
          k -> v
      }.toMap
    } finally deleteTree(work.toFile)
  }
  private def child(key: String): String = run.get(key)

  test("GraftExtensions sets the codegen cache size and turns artifact isolation off") {
    assert(child("default." + cacheKey) == GraftExtensions.CodegenCacheEntries.toString)
    assert(child("default." + isolationKey) == "false")
  }

  test("a value set on the builder for either key survives GraftExtensions") {
    assert(child("user." + cacheKey) == "123")
    assert(child("user." + isolationKey) == "true")
  }

  test("a second pass of the catalog workload's queries compiles at most 10 classes") {
    val cold = child("catalog.cold").toLong
    val warm = child("catalog.warm").toLong
    assert(cold > 0, "the cold pass compiled nothing: the count does not see compiles")
    assert(warm <= 10, s"warm pass compiled $warm classes (cold pass $cold)")
  }

  test("a second DAU drain of the same replay, as a new query, compiles at most 10 classes") {
    val first = child("dau.first").toLong
    val second = child("dau.second").toLong
    assert(first > 0, "the first drain compiled nothing: the count does not see compiles")
    assert(second <= CodegenReuseCheck.SecondDrainBound,
      s"second drain compiled $second classes (first drain $first)")
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Child-JVM body of `CodegenReuseSpec`. Builds a `local[2]` session with
  * `GraftExtensions`, prints both keys, counts Janino compiles over two
  * passes of the given catalog queries and over two DAU drains of one
  * 3-file replay, then rebuilds the session with both keys set by the user
  * and prints them again. Args: test-data scale dir, comma-joined query
  * names. */
object CodegenReuseCheck {

  /** Compiles allowed in the second drain. It measured 5 (24 with isolation
    * on and 100 entries): the state encoder's projections, whose source
    * names a `MapObjects` lambda variable after a JVM-wide counter, so
    * each new state store generates a new source. */
  val SecondDrainBound = 10L

  val Keys = Seq("spark.sql.codegen.cache.maxEntries", "spark.sql.artifact.isolation.enabled")

  private def session(conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("graft-codegen-reuse")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    val s = conf.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def report(k: String, v: Any): Unit = println(s"[codegen] $k=$v")

  def main(args: Array[String]): Unit = {
    val Array(sf, names) = args
    val s = session()
    Keys.foreach(k => report(s"default.$k", s.conf.get(k)))

    val queries = names.split(",").toSeq.map(n => SparkEntry.queries(n))
    def pass(): Long = compiles(queries.foreach(q => q(s, sf).collect()))
    report("catalog.cold", pass())
    report("catalog.warm", pass())

    // the jittered replay in 3 files, modification times in part order so
    // the file source reads one per micro-batch in that order
    val dir = StreamReplay.rewriteJittered(s, sf, 3)
    val parts = new File(dir).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName)
    val t0 = System.currentTimeMillis() - 1000L * (parts.length + 1)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + 1000L * i) }
    def drain(): Long = compiles {
      val events = StreamingQueries.eventsStream(s, dir, Some(1))
      val q = StatefulDau.dauStream(events.withWatermark("ts", "10 minutes")).toDF()
        .writeStream.option("checkpointLocation", Files.createTempDirectory("graft_dau_chk_").toString)
        .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    report("dau.first", drain())
    report("dau.second", drain())
    s.stop()

    val u = session(Keys.head -> "123", Keys(1) -> "true")
    Keys.foreach(k => report(s"user.$k", u.conf.get(k)))
    u.stop()
    sys.exit(0)
  }
}
