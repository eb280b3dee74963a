package perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run: counters summed over the traced
  * warm passes and reported per pass, plus values measured once. Every
  * workload reports every name; a layer a workload does not exercise
  * reads 0. */
final class Layers {
  private var passes = 0
  private var cpus = 1
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val fixed = mutable.Map.empty[String, Double]

  private def add(k: String, v: Double): Unit = sums(k) += v

  def put(k: String, v: Double, unit: String): Unit = {
    require(Layers.names.exists(_ == (k -> unit)), s"unknown layer metric $k ($unit)")
    fixed(k) = v
  }

  private def addJobs(jobs: JobListener, kernelOps: Set[String]): Unit = {
    val all = jobs.total(_ => true)
    add("build_jobs", jobs.total(_._2 == "build").jobs.toDouble)
    add("jobs", all.jobs.toDouble)
    add("stages", all.stages.toDouble)
    add("tasks", all.tasks.toDouble)
    add("task_s", all.runMs / 1e3)
    add("sched_delay_s", all.schedDelayMs / 1e3)
    add("busy_task_s", jobs.total(_._2 != "build").runMs / 1e3)
    add("task_cpu_s", all.cpuNs / 1e9)
    add("kernel_task_cpu_s", jobs.total(k => kernelOps(k._1)).cpuNs / 1e9)
    add("gc_s", all.gcMs / 1e3)
    add("shuffle_write_mb", all.shuffleWrite / 1048576.0)
    add("shuffle_read_mb", all.shuffleRead / 1048576.0)
    add("spill_mb", all.spill / 1048576.0)
    add("input_mb", all.input / 1048576.0)
  }

  /** One traced pass of catalog queries. */
  def addQueries(execs: Seq[Exec], jobs: JobListener, nCpus: Int): Unit = {
    passes += 1
    cpus = nCpus
    add("build_s", execs.map(_.buildS).sum)
    add("exec_s", execs.map(e => e.planS + e.execS).sum)
    add("analysis_ms", execs.map(_.phasesMs.getOrElse("analysis", 0L)).sum.toDouble)
    add("optimizer_ms", execs.map(_.phasesMs.getOrElse("optimization", 0L)).sum.toDouble)
    add("physical_ms", execs.map(_.phasesMs.getOrElse("planning", 0L)).sum.toDouble)
    val shapes = execs.flatMap(_.shape)
    add("exchanges", shapes.map(_.exchanges).sum.toDouble)
    add("scans", shapes.map(_.scans).sum.toDouble)
    add("codegen_fallbacks", shapes.map(_.codegenFallbacks).sum.toDouble)
    addJobs(jobs, execs.filter(_.shape.exists(_.kernel)).map(_.id).toSet)
  }

  /** One traced pass that drains every stream head. */
  def addStream(progress: Seq[StreamingQueryProgress], drainS: Double, jobs: JobListener,
                nCpus: Int): Unit = {
    passes += 1
    cpus = nCpus
    add("exec_s", drainS)
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    add("add_batch_ms", dur("addBatch"))
    add("query_planning_ms", dur("queryPlanning"))
    add("wal_commit_ms", dur("walCommit"))
    add("state_commit_ms", progress.flatMap(_.stateOperators.map(_.commitTimeMs.toDouble)).sum)
    add("late_rows", progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark.toDouble)).sum)
    val byHead = progress.groupBy(_.name).values
    add("state_rows", byHead.map(ps => ps.map(_.stateOperators.map(_.numRowsTotal).sum).max.toDouble).sum)
    add("state_mb", byHead.map(ps => ps.map(_.stateOperators.map(_.memoryUsedBytes).sum).max / 1048576.0).sum)
    add("stream_input_rows", progress.map(_.numInputRows.toDouble).sum)
    addJobs(jobs, Set.empty)
  }

  def batchDurations(ms: Seq[Double]): Unit = if (ms.nonEmpty) {
    put("batch_p50_ms", Main.quantile(ms, 0.5), "ms")
    put("batch_p90_ms", Main.quantile(ms, 0.9), "ms")
  }

  def overhead(traced: Seq[Double], plain: Seq[Double]): Unit =
    if (traced.nonEmpty && plain.nonEmpty) {
      val p = Main.median(plain)
      put("trace_overhead_pct", 100.0 * (Main.median(traced) - p) / p, "%")
    }

  /** Self time per pass of the spans of traced warm passes. */
  def selfTimes(spans: Spans): Unit = {
    val self = spans.selfSeconds(_.op.startsWith("w"))
    Seq("op" -> "op_self_s", "build" -> "build_self_s", "plan" -> "plan_self_s",
      "execute" -> "exec_self_s", "drain" -> "drain_self_s", "batch" -> "batch_self_s")
      .foreach { case (span, m) => put(m, self.getOrElse(span, 0.0) / math.max(1, passes), "s") }
  }

  def metrics: Seq[(String, (Double, String))] = {
    val n = math.max(1, passes).toDouble
    val derived = Map(
      "busy_share" -> (if (sums("exec_s") > 0) sums("busy_task_s") / (sums("exec_s") * cpus) else 0.0),
      "stream_rows_per_s" -> (if (sums("exec_s") > 0 && sums("stream_input_rows") > 0)
        sums("stream_input_rows") / sums("exec_s") else 0.0))
    Layers.names.map { case (k, u) =>
      k -> (fixed.getOrElse(k, derived.getOrElse(k, sums(k) / n)), u)
    }
  }
}

object Layers {
  /** Name and unit of every per-layer metric, grouped by layer. */
  val names: Seq[(String, String)] = Seq(
    // query builders
    "build_s" -> "s", "build_jobs" -> "count",
    // planner
    "analysis_ms" -> "ms", "optimizer_ms" -> "ms", "physical_ms" -> "ms",
    "exchanges" -> "count", "scans" -> "count", "codegen_fallbacks" -> "count",
    // scheduler
    "exec_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_s" -> "s", "sched_delay_s" -> "s", "busy_share" -> "ratio",
    // kernels
    "task_cpu_s" -> "s", "kernel_task_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    // storage and ingest-time state
    "pin_s" -> "s", "input_mb" -> "MB", "cold_pass_s" -> "s", "first_call_extra_s" -> "s",
    "cached_mb_delta" -> "MB", "resident_mb" -> "MB",
    // streaming
    "add_batch_ms" -> "ms", "query_planning_ms" -> "ms", "wal_commit_ms" -> "ms",
    "state_rows" -> "count", "state_mb" -> "MB", "state_commit_ms" -> "ms",
    "late_rows" -> "count", "stream_rows_per_s" -> "rows/s",
    "batch_p50_ms" -> "ms", "batch_p90_ms" -> "ms",
    // span self time per pass, and the cost of tracing itself
    "op_self_s" -> "s", "build_self_s" -> "s", "plan_self_s" -> "s", "exec_self_s" -> "s",
    "drain_self_s" -> "s", "batch_self_s" -> "s", "trace_overhead_pct" -> "%")
}

/** Runs `oracle.py` over dumped results; returns name -> "PASS" or the
  * reason it failed. */
object Oracle {
  def run(script: String, data: String, dump: String): Map[String, String] = {
    val p = new ProcessBuilder("python3", script, data, dump).redirectErrorStream(true).start()
    val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    val rc = p.waitFor()
    if (rc != 0) throw new IllegalStateException(s"oracle exited $rc: ${lines.takeRight(5).mkString(" | ")}")
    lines.flatMap { l =>
      if (l.startsWith("PASS ")) Some(l.drop(5).trim -> "PASS")
      else if (l.startsWith("FAIL ")) {
        val rest = l.drop(5)
        val i = rest.indexOf(':')
        Some((if (i < 0) rest else rest.take(i)).trim -> rest)
      } else None
    }.toMap
  }
}
