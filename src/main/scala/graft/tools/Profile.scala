package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanApi

import graft.{Harness, SparkEntry}

/** Per-query cost profile under Bench's session and pins: where a catalog
  * query's time goes (DataFrame build, Catalyst planning, execution), how
  * many Spark jobs its builder and its action start, and the shape of its
  * final plan. The job count separates floor-bound queries (1-2 jobs,
  * dominated by the per-job constant) from fusible ones (several jobs
  * re-walking the same data).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <passes> [name | explain:name ...]
  * (no names = the whole catalog). Each query runs once on the sf0.001
  * tables beside sfDir to warm, then `passes` times at sfDir, and prints
  * one JSON line holding the minimum of each field over the passes; a
  * query that throws prints its exception class instead. `explain:name`
  * prints the formatted plan. */
object Profile {

  /** Fields of a profile, in output order: `_s` fields are seconds, the
    * rest counts. `jobs` are the jobs of the action; plan counts read the
    * final adaptive plan, where `exchanges` are the hash and range
    * shuffles that run and `reused_exchanges` the ones served from an
    * earlier shuffle of the same plan. */
  val fields = Seq("build_s", "plan_s", "exec_s", "build_jobs", "jobs",
    "exchanges", "reused_exchanges", "scans", "smj", "bnlj", "codegen_fallbacks")

  /** Build the frame, plan it and `collect()` it, timing each step and
    * counting the jobs started while building and while executing. */
  def measure(spark: SparkSession)(build: => DataFrame): Map[String, Double] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def seconds[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def jobsSince(): Int = { PlanApi.drainListeners(sc); jobs.getAndSet(0) }
    PlanApi.drainListeners(sc) // earlier events must not reach the new listener
    sc.addSparkListener(listener)
    try {
      val (df, buildS) = seconds(build)
      val buildJobs = jobsSince()
      val planS = seconds(df.queryExecution.executedPlan)._2
      val execS = seconds(df.collect())._2
      val execJobs = jobsSince()
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      def count(re: String): Double = re.r.findAllIn(plan).length.toDouble
      // a node's name opens its line after the tree prefix; a ReusedExchange
      // line also quotes the exchange it reuses, so match names only
      def nodes(name: String): Double = count(s"(?m)^[ :+-]*$name")
      Map("build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
        "build_jobs" -> buildJobs.toDouble, "jobs" -> execJobs.toDouble,
        "exchanges" -> nodes("Exchange (hash|range)partitioning"),
        "reused_exchanges" -> nodes("ReusedExchange "),
        "scans" -> count("FileScan parquet"), "smj" -> count("SortMergeJoin"),
        "bnlj" -> count("BroadcastNestedLoop"), "codegen_fallbacks" -> count("CodegenFallback"))
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = args(1).toInt
    require(passes >= 1, s"passes must be at least 1, got $passes")
    val qs = SparkEntry.queries
    val asked = if (args.length > 2) args.drop(2).toSeq else qs.keys.toSeq.sorted
    val unknown = asked.map(_.stripPrefix("explain:")).filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    val spark = Harness.session()
    Harness.warm(spark, sfDir, asked.filterNot(_.startsWith("explain:")))
    Harness.pin(spark, sfDir)
    asked.foreach { a =>
      if (a.startsWith("explain:")) {
        val name = a.stripPrefix("explain:")
        println(s"==== $name ====")
        qs(name)(spark, sfDir).explain("formatted")
      } else {
        val line = try {
          val samples = Seq.fill(passes)(measure(spark)(qs(a)(spark, sfDir)))
          fields.map { f =>
            val v = samples.map(_(f)).min
            if (f.endsWith("_s")) f""""$f":$v%.4f""" else s""""$f":${v.toLong}"""
          }.mkString(",")
        } catch { case NonFatal(e) => s""""error":"${e.getClass.getName}"""" }
        println(s"""{"query":"$a",$line}""")
      }
    }
    spark.stop()
  }
}
