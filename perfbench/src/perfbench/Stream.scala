package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, desc, lit, session_window}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.streaming.{StatefulDau, StatefulFirstSeen, StatefulRateLimit, StreamReplay, StreamingQueries}

/** One stream head: the streaming query, the columns its sink
  * fingerprints, and its batch face projected to the same columns. A
  * `weight` column in the face stands for that many equal rows. */
final case class StreamHead(
    name: String, stream: (SparkSession, String) => DataFrame, sinkCols: Seq[String],
    face: String, faceCols: Seq[String], weight: Option[String] = None)

object StreamHeads {
  /** The replay is read one file per micro-batch. */
  private def events(s: SparkSession, dir: String, delay: String): DataFrame =
    StreamingQueries.eventsStream(s, dir, Some(1)).withWatermark("ts", delay)

  val all: Seq[StreamHead] = Seq(
    StreamHead("tumbling_wm", (s, d) => StreamingQueries.tumblingStream(s, d, Some(1)),
      Seq("unix_micros(w) w", "event_type", "cnt"),
      "q_stream_tumbling_wm", Seq("unix_micros(cast(w as timestamp)) w", "event_type", "cnt")),
    StreamHead("session", (s, d) => events(s, d, "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("s_start"), col("n_events")),
      Seq("user_id", "unix_micros(s_start) s", "n_events"),
      "q_stream_session", Seq("user_id", "unix_micros(cast(s_start as timestamp)) s", "n_events")),
    StreamHead("dedup", (s, d) => events(s, d, "10 minutes").dropDuplicatesWithinWatermark("event_id"),
      Seq("event_type"),
      "q_stream_dedup", Seq("event_type", "cnt"), weight = Some("cnt")),
    StreamHead("first_seen", (s, d) => StatefulFirstSeen.firstSeenStream(events(s, d, "10 minutes")).toDF(),
      Seq("user_id", "first_us"),
      "q_stream_first_seen", Seq("user_id", "unix_micros(cast(first_ts as timestamp)) first_us")),
    StreamHead("dau", (s, d) => StatefulDau.dauStream(events(s, d, "10 minutes")).toDF(),
      Seq("dayUs day_us", "n_users"),
      "q_stream_dau", Seq("day_us", "n_users")),
    StreamHead("rate_limit", (s, d) => StatefulRateLimit.rateLimitStream(events(s, d, "10 minutes")).toDF(),
      Seq("user_id", "admitted"),
      "q_ts_rate_limit",
      Seq("stack(2, user_id, true, cast(n_admitted as bigint), user_id, false, cast(n_rejected as bigint)) as (user_id, admitted, n)"),
      weight = Some("n")))
}

/** The stream replay: an out-of-order file layout of the events,
  * drained one file per micro-batch by six stateful heads. */
final class StreamWorkload(ctx: Ctx) extends Workload {
  private val a = ctx.a
  private val spark = ctx.spark

  /** Self-test hooks: a head that throws, and one whose output differs
    * from its batch face. */
  private val injected: Map[String, StreamHead] = Map(
    "throw" -> StreamHeads.all.head.copy(name = "inject_throw",
      stream = (_, _) => throw new IllegalStateException("injected failure")),
    "wrong" -> StreamHeads.all.head.copy(name = "inject_wrong",
      sinkCols = Seq("unix_micros(w) w", "event_type", "cnt + 1 cnt")))
  private val heads = StreamHeads.all ++ a.inject.toSeq.sorted.map(injected)
  private val layers = new Layers
  private val drains = new java.util.concurrent.atomic.AtomicInteger

  /** Lays out the replay through `StreamReplay.rewriteJittered`, then
    * fixes the file order the file source reads (by modification time)
    * to the replay's own part order, and appends a heartbeat file: one
    * event a day after the last, carrying the last event's id so the
    * dedup head drops it. The heartbeat advances the watermark past
    * every real event, so each head seals all of its output. */
  private def stage(dataDir: String, files: Int): String = {
    val dir = StreamReplay.rewriteJittered(spark, dataDir, files)
    val parts = new File(dir).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName)
    val t0 = System.currentTimeMillis() - 1000L * (parts.length + 2)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + 1000L * i) }
    val hb = s"$dir-heartbeat"
    spark.read.parquet(dir).orderBy(desc("ts"), desc("event_id")).limit(1)
      .select(col("event_id"), (col("ts") + 86400L * 1000000000L).as("ts"), lit(-1L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(hb)
    val f = new File(hb).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new File(dir, "part-99999-heartbeat.parquet")
    require(f.renameTo(dst), s"cannot move heartbeat into $dir")
    dst.setLastModified(t0 + 1000L * (parts.length + 1))
    Main.rmrf(new File(hb))
    dir
  }

  /** Runs one head to the end of the replay; returns wall seconds, the
    * summed fingerprint of its sink, and its progress records. */
  private def drain(h: StreamHead, replay: String, id: String)
      : (Double, Either[String, Fp], Seq[StreamingQueryProgress]) = {
    val chk = s"${a.work}/checkpoints/${drains.incrementAndGet()}"
    val acc = new java.util.concurrent.atomic.AtomicReference(Fp.zero)
    val t0 = System.nanoTime()
    ctx.tag(id, "exec")
    try ctx.spans.withOp(id)(ctx.spans.span("drain") {
      val q = h.stream(spark, replay).writeStream
        .queryName(h.name)
        .option("checkpointLocation", chk)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val fp = Fp.of(b.selectExpr(h.sinkCols: _*))
          acc.updateAndGet(_ + fp)
          ()
        }
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      progress.foreach { p =>
        val startNs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + offsetNs
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        ctx.spans.record("batch", startNs, startNs + ms * 1000000L)
      }
      (wall, Right(acc.get), progress)
    }) catch {
      case NonFatal(e) => ((System.nanoTime() - t0) / 1e9, Left(e.toString.take(300)), Nil)
    } finally {
      ctx.tag(null, null)
      Main.rmrf(new File(chk))
    }
  }

  private def triggerMs(ps: Seq[StreamingQueryProgress]): Seq[Double] =
    ps.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue))

  def run(sessionS: Double): Seq[(String, (Double, String))] = {
    val rnd = new Random(a.seed)
    val files = 2
    // untimed JIT and codegen warm-up: every head drains its own layout of
    // the input once, the heads side by side
    val w0 = System.nanoTime()
    val warmReplay = stage(ctx.linkCopy(a.data, s"${a.work}/warmup"), files)
    val warmErrors = Main.parallel(a.cpus, heads) { h =>
      drain(h, warmReplay, s"warmup:${h.name}")._2.left.toOption.map(h.name -> _)
    }.flatten
    ctx.record ++= Seq("warmup_s" -> (System.nanoTime() - w0) / 1e9, "warmup_errors" -> warmErrors.toMap)

    Main.log("setup")
    ctx.setTracing(a.trace)
    val setups = (1 to Main.SetupReps).map { k =>
      val dir = ctx.linkCopy(a.data, s"${a.work}/setup/$k")
      val times = mutable.ArrayBuffer.empty[(String, Double)]
      val t0 = System.nanoTime()
      val replay = ctx.spans.withOp(s"setup$k")(ctx.spans.span("setup")(
        ctx.setupStep("replay_layout", times)(stage(dir, files))))
      (dir, replay, (System.nanoTime() - t0) / 1e9)
    }
    val (dir, replay, _) = setups.last
    ctx.record += "setup" -> Map("session_s" -> sessionS, "reps" -> setups.map(_._3))

    type Drain = (String, Int, Double, Either[String, Fp], Seq[StreamingQueryProgress])
    def pass(p: Int): (Double, Seq[Drain]) = {
      Main.log(s"pass $p")
      val t0 = System.nanoTime()
      val ds = rnd.shuffle(heads).map { h =>
        ctx.attempted += 1
        val (s, fp, prog) = drain(h, replay, s"w$p:${h.name}")
        (h.name, p, s, fp, prog)
      }
      ((System.nanoTime() - t0) / 1e9, ds)
    }
    val warm = mutable.ArrayBuffer.empty[(Double, Seq[Drain], Boolean)]
    val tStart = System.nanoTime()
    while (warm.size < Main.MinWarmPasses || (System.nanoTime() - tStart) / 1e9 < a.seconds) {
      val traced = a.trace && warm.size % 2 == 0
      ctx.setTracing(traced)
      ctx.jobs.reset()
      ctx.progress.progress.clear()
      val (s, ds) = pass(warm.size + 1)
      if (traced) {
        ctx.drain()
        val prog = ctx.progress.progress.asScala.toSeq
        layers.addStream(prog, ds.map(_._3).sum, ctx.jobs, a.cpus)
      }
      warm += ((s, ds, traced))
    }
    ctx.setTracing(false)

    // references: each head's batch face on the same generated input
    val refs = heads.map { h =>
      h.name -> (try Right(Fp.of(SparkEntry.queries(h.face)(spark, dir).selectExpr(h.faceCols: _*), h.weight))
                 catch { case NonFatal(e) => Left(e.toString.take(200)) })
    }.toMap
    val inputRows = spark.read.parquet(replay).count()
    val all = warm.flatMap(_._2).toSeq
    val bad = mutable.Set.empty[(String, Int)]
    all.foreach { case (n, p, _, fp, _) =>
      val err = (fp, refs(n)) match {
        case (Left(e), _) => Some(e)
        case (Right(f), Right(r)) if f == r => None
        case (Right(f), Right(r)) => Some(s"wrong result: got $f, batch face $r")
        case (_, Left(e)) => Some(s"batch face failed: $e")
      }
      err.foreach { x => ctx.failures += s"w$p:$n" -> x; bad += ((n, p)) }
    }
    val untraced = warm.filterNot(_._3)
    val good = untraced.flatMap(_._2).filterNot(d => bad((d._1, d._2))).toSeq
    // medians over the untraced warm passes, per head (drain time) and per
    // head and micro-batch (trigger time): a slow pass moves neither
    val perHead = good.groupBy(_._1).values.map(ds => Main.median(ds.map(_._3))).toSeq
    val perBatch = good.flatMap(d => triggerMs(d._5).zipWithIndex.map { case (ms, i) => (d._1, i) -> ms })
      .groupBy(_._1).values.map(xs => Main.median(xs.map(_._2))).toSeq
    ctx.record ++= Seq(
      "input_rows" -> inputRows, "files_per_replay" -> (files + 1),
      "passes" -> warm.zipWithIndex.map { case ((s, _, t), i) =>
        Map("pass" -> (i + 1), "seconds" -> s, "traced" -> t) },
      "drains" -> all.map { case (n, p, s, fp, prog) => Map("head" -> n, "pass" -> p, "seconds" -> s,
        "fp" -> fp.fold(e => s"!$e", _.toString), "batches" -> prog.size,
        "trigger_ms" -> triggerMs(prog)) },
      "op_samples" -> good.map(d => triggerMs(d._5).size).sum)

    if (!a.trace) Seq(
      "setup_s" -> (sessionS + Main.median(setups.map(_._3)), "s"),
      "pass_s" -> (perHead.sum, "s"),
      "op_geomean_ms" -> (Main.geomean(perBatch), "ms"))
    else {
      layers.batchDurations(warm.filter(_._3).flatMap(_._2).flatMap(d => triggerMs(d._5)).toSeq)
      layers.put("pin_s", Main.median(setups.map(_._3)), "s")
      layers.put("resident_mb", Storage.cachedBytes(spark) / 1048576.0, "MB")
      layers.overhead(warm.filter(_._3).map(_._1).toSeq, untraced.map(_._1).toSeq)
      layers.selfTimes(ctx.spans)
      layers.metrics
    }
  }
}
