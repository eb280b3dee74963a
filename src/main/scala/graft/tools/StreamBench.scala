package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.Harness
import graft.streaming.{StreamingQueries, StreamReplay}

/** Streaming throughput evidence (round 13): the streaming tier has had
  * batch↔stream PARITY coverage since §5.4 but no measured throughput
  * axis. This tool replays the events table (or a ScaleBench ×F slice)
  * as a time-ordered file stream and times representative stateful
  * queries end-to-end — rows/sec through watermarked tumbling/sliding
  * aggregation, session windows, and exactly-once dedup — at 1×/10×/100×
  * the stream volume.
  *
  * Method: `StreamReplay.rewriteOrdered` into `files` parquet files,
  * `Trigger.AvailableNow()` with maxFilesPerTrigger=1 (so the run pays
  * `files` genuine micro-batches: per-trigger planning, state store
  * commits, watermark advancement — the costs a live stream pays),
  * memory sink, wall-clock around query start→termination. Rows/sec =
  * input rows / wall-clock. A fresh checkpoint per run; state store =
  * the default HDFSBackedStateStore.
  *
  * Reading it: per-trigger overhead (~a bench floor per micro-batch ×
  * `files` batches) dominates at 1× and amortizes with volume — rows/sec
  * should RISE with the factor, mirroring the batch ScaleBench
  * amortization story on the streaming axis. Each head also records the
  * durable-commit layer summed over its micro-batches: `state_commit_ms`
  * (state-store commits) and `wal_commit_ms` (offset and commit logs).
  * When these two track the wall time, checkpoint I/O binds, not state
  * size or compute.
  *
  * Usage: runMain graft.tools.StreamBench [sfDir] [outJson] [factor...]
  * Factors > 1 read the ScaleBench slice dirs (/tmp/graft_scale_<F>x —
  * run ScaleBench first); missing slices are skipped with a note.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "BENCH_STREAM_r13.json"
    val factors = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(1, 10)
    val files = 24 // micro-batches per run: one file per trigger
    // SPARK_GRAFT_STATE_STORE=rocksdb swaps the default in-heap
    // HDFSBackedStateStore (state capped by driver heap — 100M dedup
    // keys OOM a 64g box) for Spark's bundled RocksDB provider (state
    // on disk, bounded memtables) — the same switch a cluster makes at
    // high key cardinality
    val rocksdb = sys.env.get("SPARK_GRAFT_STATE_STORE").contains("rocksdb")
    val stateStore = if (!rocksdb) Nil else Seq("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = Harness.session(stateStore: _*)
    // Silence the RocksDB JNI info-log callback: Spark's state store wires
    // native RocksDB logging back into log4j through LoggerJniCallback,
    // whose Logv segfaulted a 100M-key run (r15's hs_err artifact). Spark
    // picks the native InfoLogLevel from these loggers' effective levels,
    // so OFF keeps the callback from ever firing on the hot path — a
    // logging hook must not be able to take down a streaming job.
    Seq("org.apache.spark.sql.execution.streaming.state.RocksDB",
        "org.apache.spark.sql.execution.streaming.state.RocksDBFileManager")
      .foreach(n => org.apache.logging.log4j.core.config.Configurator.setLevel(
        n, org.apache.logging.log4j.Level.OFF))

    val rows = factors.flatMap { f =>
      val dir = if (f == 1) sfDir else s"/tmp/graft_scale_${f}x"
      // geofence joins the slice dir's (fixed) supplier fences per
      // micro-batch — the stream-static spatial head
      // SPARK_GRAFT_STREAM_HEAD=name,name narrows the timed heads — at
      // the 1000x factor the keyed-state heads (session/dedup: 15M user
      // keys, 100M dedup keys) are a different experiment than the
      // bounded-state windows, so runs can split them
      val headFilter = sys.env.get("SPARK_GRAFT_STREAM_HEAD").map(_.split(",").toSet)
      val allHeads: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
        ("tumbling_wm", StreamingQueries.tumblingStream(_, _)),
        ("sliding_wm", StreamingQueries.slidingStream(_, _)),
        ("session_window", StreamingQueries.sessionStream(_, _)),
        ("dedup_within_wm", StreamingQueries.dedupStream(_, _)),
        ("geofence", (s, replay) => StreamingQueries.geofenceStream(s, replay, dir)))
      val heads = allHeads.filter { case (n, _) => headFilter.forall(_.contains(n)) }
      if (f != 1 && !new java.io.File(s"$dir/_DONE3").exists) {
        System.err.println(s"[stream-bench] no ScaleBench slice for factor $f at $dir — skipped (run ScaleBench $f first)")
        Nil
      } else {
        val replay = StreamReplay.rewriteOrdered(spark, dir, files)
        val inputRows = spark.read.parquet(replay).count()
        // one untimed warm run PER HEAD (codegen + state-store classes
        // per plan shape — warming only one head left the others paying
        // first-execution cost inside their timed number)
        heads.zipWithIndex.foreach { case ((_, mk), i) =>
          run(spark, mk(spark, replay), s"warm$i")
        }
        val t0 = Harness.cpuTicks()
        val timed = heads.map { case (name, mk) =>
          val w0 = System.nanoTime()
          val (emitted, commit) = run(spark, mk(spark, replay), s"sb_${name}_$f")
          val sec = (System.nanoTime() - w0) / 1e9
          (name, sec, emitted, commit)
        }
        Seq((f, inputRows, Harness.stealPct(t0, Harness.cpuTicks()), timed))
      }
    }
    val body = rows.map { case (f, n, steal, timed) =>
      val qj = timed.map { case (name, sec, emitted, (stateMs, walMs)) =>
        f""""$name":{"sec":$sec%.3f,"rows_per_sec":${n / sec}%.0f,""" +
          s""""state_commit_ms":$stateMs,"wal_commit_ms":$walMs,"emitted":$emitted}"""
      }.mkString(",")
      f"""{"factor":$f,"input_rows":$n,"microbatches":$files,"steal_pct":$steal%.3f,"queries":{$qj}}"""
    }.mkString(",")
    // self-describing record (the r12 lesson): state-store-heavy heads are
    // HEAP-SENSITIVE — at 8g the 100× session_window ran 6× slower under
    // GC pressure than at 16g — so the artifact carries the heap and the
    // cores it ran with
    val heapMb = Runtime.getRuntime.maxMemory / 1048576
    val store = if (rocksdb) "rocksdb" else "hdfs"
    val json = s"""{"sf_base":"$sfDir","cpus":${Harness.cpus},"heap_mb":$heapMb,"state_store":"$store","factors":[$body]}\n"""
    Files.writeString(Paths.get(out), json)
    println(json)
    spark.stop()
  }

  /** Run a finite streaming frame to completion; returns emitted rows and
    * (state-store commit ms, WAL commit ms) summed over its progress.
    * Counts through foreachBatch (distributed count per micro-batch) —
    * a memory sink would collect every emitted row to the driver, which
    * OOMs at the 100× factor (10M dedup pass-throughs). */
  private def run(s: SparkSession, df: org.apache.spark.sql.DataFrame,
                  name: String): (Long, (Long, Long)) = {
    val emitted = new java.util.concurrent.atomic.LongAdder
    val q = df.writeStream
      .option("checkpointLocation",
        Files.createTempDirectory(s"graft_sb_$name").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted.add(b.count()); ()
      }
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progress = q.recentProgress.toSeq
    val stateMs = progress.flatMap(_.stateOperators.map(_.commitTimeMs)).sum
    val walMs = progress.flatMap(p => Option(p.durationMs.get("walCommit")).map(_.longValue)).sum
    (emitted.sum(), (stateMs, walMs))
  }
}
