package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import scala.util.{Failure, Success, Try}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one place graft keeps state it reuses across the queries of a
  * session: resolved tables, the function pack, ingest-time layouts,
  * corpus sketches, ANN indexes and per-site pins.
  *
  * One entry per (SparkSession, key), built once and then returned as the
  * SAME instance — CacheManager substitution of pinned frames depends on
  * object identity. A build may call the store for another key, so it runs
  * in its own per-key cell, outside any map operation. A build that throws
  * leaves no entry. When a session's SparkContext stops, all entries of its
  * sessions are dropped.
  */
object ArtifactStore {

  private final class Cell(build: () => AnyRef) {
    lazy val result: Try[AnyRef] = Try(build())
  }

  private val entries = new ConcurrentHashMap[(SparkSession, Any), Cell]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** The entry for `key` in `spark`'s scope, built by `build` on first use.
    * `key` compares by value (tuples, strings) or, for a frame, by
    * identity — which is the point when keying on a `Tables` frame. */
  def apply[A <: AnyRef](spark: SparkSession, key: Any)(build: => A): A = {
    val k = (spark, key)
    var cell = entries.get(k)
    if (cell == null) {
      watch(spark.sparkContext)
      val fresh = new Cell(() => build)
      val prev = entries.putIfAbsent(k, fresh)
      cell = if (prev == null) fresh else prev
    }
    cell.result match {
      case Success(v) => v.asInstanceOf[A]
      case Failure(e) => entries.remove(k, cell); throw e
    }
  }

  private[graft] def size: Int = entries.size

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        entries.keySet.removeIf(_._1.sparkContext eq sc)
        watched.remove(sc)
      }
    })

  /** Checkpoint `df` (eagerly) and release the blocks of the frame the same
    * (session, `tag`) checkpointed on its previous call: each pin site keeps
    * at most one live checkpoint per session, where bare pins accumulated
    * one set of blocks per invocation. The blocks belong to the checkpointed
    * RDD under the frame's `LogicalRDD`; `Dataset.unpersist` does not reach
    * them, because a checkpoint is not a CacheManager entry.
    *
    * Contract: the DataFrame an EARLIER call at the same site returned is
    * invalidated by the next call in the same session — its checkpoint
    * blocks are released and its lineage was truncated. Callers that need
    * two generations alive at once must checkpoint outside this helper.
    * `rotate` is single-threaded per session: two concurrent invocations of
    * one query in one session may release each other's pin mid-read.
    *
    * A pin pays only when the duplicated subtree beats the materialization
    * barrier: light subtrees (≤ ~0.2 s at sf0.1) lose with a pin, eager or
    * lazy, because their duplicated branches overlap inside one job; those
    * sites carry measured-and-rejected notes instead. */
  def rotate(tag: String)(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    val last = apply(df.sparkSession, ("rotate", tag))(new AtomicReference[DataFrame]())
    val prev = last.getAndSet(ck)
    if (prev != null) prev.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
    ck
  }
}
