package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** One execution of a catalog query. */
final case class Exec(
    id: String, op: String, pass: Int, buildS: Double, planS: Double, execS: Double,
    fp: Option[Fp], error: Option[String], shape: Option[PlanShape],
    phasesMs: Map[String, Long], cachedDelta: Long) {
  def seconds: Double = buildS + planS + execS
}

/** The interactive analyst: catalog queries over the pinned tables.
  * Small inputs, so per-query cost is DataFrame build, planning and
  * per-job latency rather than kernels. The queries are those listed in
  * `perfbench/catalog_queries.txt` (chosen from a full-catalog probe by
  * `perfbench/pick.py`), or every catalog query when the run is a probe. */
final class CatalogWorkload(ctx: Ctx) extends Workload {
  import CatalogWorkload.Q

  private val a = ctx.a
  private val spark = ctx.spark
  private val layers = new Layers

  private val queries: Seq[String] =
    if (a.queries == "all") SparkEntry.queries.keys.toSeq.sorted
    else Files.readAllLines(Paths.get(a.queries)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  private val tableLoaders: Seq[(String, Q)] = Seq(
    "lineitem" -> Tables.lineitem, "orders" -> Tables.orders, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "nation" -> Tables.nation,
    "region" -> Tables.region, "events" -> Tables.events, "documents" -> Tables.documents,
    "embeddings" -> Tables.embeddings)

  /** One setup repetition: pins the ten tables; returns the cached frames.
    * The ingest-time layouts, indexes and sketches the queries read are
    * memoized by the library on first use, so the cold pass builds them. */
  private def pin(dir: String, times: mutable.ArrayBuffer[(String, Double)]): Seq[DataFrame] =
    tableLoaders.map { case (n, t) =>
      ctx.setupStep(s"cache:$n", times) { val df = t(spark, dir).cache(); df.count(); df }
    }

  /** Self-test hooks: an operation that throws, and one whose result
    * differs from its reference. */
  private val injected: Map[String, Q] = Map(
    "inject_throw" -> ((_, _) => throw new IllegalStateException("injected failure")),
    "inject_wrong" -> ((s, _) => s.range(10).toDF()))
  private def injectedRefs: Map[String, Either[String, Fp]] =
    Map("inject_wrong" -> Right(Fp.of(spark.range(11).toDF()))).filter(kv => ops.exists(_._1 == kv._1))

  private val ops: Seq[(String, Q)] =
    queries.map(n => n -> SparkEntry.queries(n)) ++
      a.inject.toSeq.sorted.map(n => s"inject_$n" -> injected(s"inject_$n"))

  private def execOp(name: String, fn: Q, dir: String, pass: Int, id: String,
                     measureCache: Boolean): Exec = {
    ctx.attempted += 1
    val c0 = if (measureCache) Storage.cachedBytes(spark) else 0L
    var tb, tp, te = 0.0
    var t = System.nanoTime()
    def lap(): Double = { val n = System.nanoTime(); val d = (n - t) / 1e9; t = n; d }
    try ctx.spans.withOp(id)(ctx.spans.span("op") {
      ctx.tag(id, "build")
      val df = ctx.spans.span("build")(fn(spark, dir))
      tb = lap()
      ctx.tag(id, "plan")
      ctx.spans.span("plan")(df.queryExecution.executedPlan)
      tp = lap()
      ctx.tag(id, "exec")
      val fp = ctx.spans.span("execute")(Fp.of(df))
      te = lap()
      val qe = df.queryExecution
      Exec(id, name, pass, tb, tp, te, Some(fp), None,
        if (ctx.isTracing) Some(PlanShape.of(qe.executedPlan)) else None,
        if (ctx.isTracing) qe.tracker.phases.map { case (k, v) => k -> v.durationMs } else Map.empty,
        if (measureCache) Storage.cachedBytes(spark) - c0 else 0L)
    }) catch {
      case NonFatal(e) =>
        Exec(id, name, pass, tb, tp, te + lap(), None, Some(e.toString.take(300)), None, Map.empty, 0L)
    } finally ctx.tag(null, null)
  }

  private def runPass(dir: String, pass: Int, order: Seq[(String, Q)],
                      measureCache: Boolean): (Double, Seq[Exec]) = {
    Main.log(s"pass $pass")
    val t0 = System.nanoTime()
    val label = if (pass == 0) "c" else s"w$pass"
    val execs = order.map { case (n, f) => execOp(n, f, dir, pass, s"$label:$n", measureCache) }
    ((System.nanoTime() - t0) / 1e9, execs)
  }

  private def readRefs(file: File): Map[String, Either[String, Fp]] =
    if (!file.exists) Map.empty
    else Files.readAllLines(file.toPath).asScala.map(_.split('\t')).collect {
      case Array(n, v) => n -> (if (v.startsWith("!")) Left(v.drop(1)) else Right(Fp.parse(v)))
    }.toMap

  /** Reference fingerprints, recorded in `a.refs` (committed beside the
    * benchmark, one file per input size). The inputs are fixed, so a
    * reference depends only on the query: a library change that alters a
    * result fails the check until the reference is recorded again. */
  private def references(): Map[String, Either[String, Fp]] = {
    val recorded = readRefs(new File(a.refs))
    queries.map(n => n -> recorded.getOrElse(n, Left(s"no reference recorded in ${a.refs}"))).toMap ++
      injectedRefs
  }

  /** Records the references of every query run (`--record 1`).
    * Oracle-backed queries are dumped and compared with DuckDB by
    * `oracle.py`, the same compare as `tools/check.py`; the fingerprint of
    * a result that passed is its reference. An approximate query (no
    * oracle) keeps the fingerprint of this run if every pass gave the same
    * one. Entries of queries not run are kept. */
  private def record(dir: String, seen: Map[String, Set[Fp]]): Unit = {
    val dump = s"${a.work}/dump"
    Main.rmrf(new File(dump))
    new File(dump).mkdirs()
    val oracleSql = SparkEntry.oracleSql
    // an oracle-backed result is written once and fingerprinted as read
    // back, so the fingerprint is of exactly the rows DuckDB checks
    val fps = queries.map { n =>
      n -> (try {
        val df = SparkEntry.queries(n)(spark, dir)
        if (!oracleSql.contains(n)) Right(Fp.of(df))
        else {
          df.coalesce(1).write.parquet(s"$dump/$n")
          Right(Fp.of(spark.read.parquet(s"$dump/$n")))
        }
      } catch { case NonFatal(e) => Left(s"reference run failed: ${e.toString.take(200)}") })
    }.toMap
    val checked = queries.filter(n => oracleSql.contains(n) && fps(n).isRight)
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      Json(checked.map(n => n -> oracleSql(n)).toMap))
    val verdict = Oracle.run(a.oracle, a.data, dump)
    val out = fps.map { case (n, fp) =>
      n -> (fp match {
        case Left(e) => Left(e)
        case Right(f) if seen.getOrElse(n, Set.empty).exists(_ != f) =>
          Left(s"nondeterministic: passes gave ${seen(n).mkString(" ")}, reference run $f")
        case Right(_) if !checked.contains(n) => fp
        case Right(_) => verdict.get(n) match {
          case Some("PASS") => fp
          case Some(why) => Left(s"oracle: $why")
          case None => Left("oracle gave no verdict")
        }
      })
    }
    Main.rmrf(new File(dump))
    val file = new File(a.refs)
    val all = readRefs(file) ++ out
    file.getParentFile.mkdirs()
    Files.writeString(file.toPath, all.toSeq.sortBy(_._1).map {
      case (n, Right(fp)) => s"$n\t$fp"
      case (n, Left(e)) => s"$n\t!${e.replaceAll("[\t\n]", " ")}"
    }.mkString("", "\n", "\n"))
    Main.log(s"recorded ${out.count(_._2.isRight)} of ${out.size} references in ${a.refs}")
  }

  def run(sessionS: Double): Seq[(String, (Double, String))] = {
    val rnd = new Random(a.seed)
    // untimed codegen and JIT warm-up on the tiny input: plan shapes match
    // across input sizes, so the generated code is reused
    val w0 = System.nanoTime()
    val warmErrors = Main.parallel(a.cpus, ops) { case (n, f) =>
      try { Fp.of(f(spark, a.tiny)); None }
      catch { case NonFatal(e) => Some(n -> e.toString.take(200)) }
    }.flatten
    ctx.record ++= Seq("warmup_s" -> (System.nanoTime() - w0) / 1e9, "warmup_errors" -> warmErrors.toMap)

    Main.log("setup")
    ctx.setTracing(a.trace)
    val setups = (1 to Main.SetupReps).map { k =>
      val dir = ctx.linkCopy(a.data, s"${a.work}/setup/$k")
      val times = mutable.ArrayBuffer.empty[(String, Double)]
      val t0 = System.nanoTime()
      val pinned = ctx.spans.withOp(s"setup$k")(ctx.spans.span("setup")(pin(dir, times)))
      (dir, (System.nanoTime() - t0) / 1e9, times.toSeq, pinned)
    }
    setups.init.foreach(_._4.foreach(_.unpersist()))
    val dir = setups.last._1
    ctx.record += "setup" -> Map("session_s" -> sessionS,
      "reps" -> setups.map(s => Map("seconds" -> s._2, "steps" -> s._3.toMap)))

    val (coldS, cold) = runPass(dir, 0, rnd.shuffle(ops), measureCache = ctx.isTracing)
    val warm = mutable.ArrayBuffer.empty[(Double, Seq[Exec], Boolean)]
    val tStart = System.nanoTime()
    while (warm.size < Main.MinWarmPasses || (System.nanoTime() - tStart) / 1e9 < a.seconds) {
      // a traced run alternates traced and untraced passes; the difference
      // between the two is the tracing overhead
      val traced = a.trace && warm.size % 2 == 0
      ctx.setTracing(traced)
      ctx.jobs.reset()
      val (s, execs) = runPass(dir, warm.size + 1, rnd.shuffle(ops), measureCache = false)
      if (traced) {
        ctx.drain()
        layers.addQueries(execs, ctx.jobs, a.cpus)
      }
      warm += ((s, execs, traced))
    }
    ctx.setTracing(false)
    val residentMb = Storage.cachedBytes(spark) / 1048576.0

    val all = cold ++ warm.flatMap(_._2)
    if (a.record) record(dir, all.groupBy(_.op).map { case (n, es) => n -> es.flatMap(_.fp).toSet })
    val refs = references()
    val bad = mutable.Set.empty[String]
    all.foreach { e =>
      val err = e.error.orElse((e.fp, refs.get(e.op)) match {
        case (Some(fp), Some(Right(r))) if fp == r => None
        case (Some(fp), Some(Right(r))) => Some(s"wrong result: got $fp, reference $r")
        case (_, Some(Left(why))) => Some(s"no reference: $why")
        case _ => Some("no reference")
      })
      err.foreach { x => ctx.failures += e.id -> x; bad += e.id }
    }
    val ok = (e: Exec) => !bad.contains(e.id)
    val untraced = warm.filterNot(_._3)
    // each query's median over the untraced warm passes: a slow pass
    // (a burst of host steal) moves no query's median
    val perQuery = untraced.flatMap(_._2).filter(ok).groupBy(_.op).map { case (_, es) =>
      Main.median(es.map(_.seconds).toSeq) }.toSeq
    ctx.record ++= Seq(
      "passes" -> ((coldS, ctx.a.trace) +: warm.map(w => (w._1, w._3)).toSeq).zipWithIndex.map {
        case ((s, t), i) => Map("pass" -> i, "seconds" -> s, "traced" -> t) },
      "ops" -> all.map(e => Map("id" -> e.id, "build_s" -> e.buildS, "plan_s" -> e.planS,
        "exec_s" -> e.execS, "fp" -> e.fp.map(_.toString), "error" -> e.error,
        "cached_delta_b" -> e.cachedDelta)),
      "op_samples" -> untraced.flatMap(_._2).count(ok))

    if (!a.trace) Seq(
      "setup_s" -> (sessionS + Main.median(setups.map(_._2)), "s"),
      "pass_s" -> (perQuery.sum, "s"),
      "op_geomean_ms" -> (Main.geomean(perQuery) * 1000, "ms"))
    else {
      val warmMedian = warm.flatMap(_._2).filter(ok).groupBy(_.op).map { case (n, es) =>
        n -> Main.median(es.map(_.seconds).toSeq) }
      layers.put("pin_s", Main.median(setups.map(_._3.map(_._2).sum)), "s")
      layers.put("first_call_extra_s", cold.filter(ok).map(e =>
        math.max(0.0, e.seconds - warmMedian.getOrElse(e.op, e.seconds))).sum, "s")
      layers.put("cached_mb_delta", cold.map(_.cachedDelta).sum / 1048576.0, "MB")
      layers.put("resident_mb", residentMb, "MB")
      layers.put("cold_pass_s", coldS, "s")
      layers.overhead(warm.filter(_._3).map(_._1).toSeq, untraced.map(_._1).toSeq)
      layers.selfTimes(ctx.spans)
      layers.metrics
    }
  }
}

object CatalogWorkload {
  type Q = (SparkSession, String) => DataFrame
}
