package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Order-free fingerprint of a result: row count plus the wrapping sum of
  * each row's xxhash64 over every output column, taken in column-name
  * order so that a reordered projection of the same rows matches (the
  * oracle compare also pairs columns by name). Sums of row hashes are
  * additive, so micro-batch fingerprints add up to the fingerprint of the
  * whole stream, and a row that stands for `n` equal rows adds `n` times
  * its hash. */
final case class Fp(rows: Long, hash: Long) {
  def +(o: Fp): Fp = Fp(rows + o.rows, hash + o.hash)
  override def toString: String = s"$rows:$hash"
}

object Fp {
  val zero: Fp = Fp(0L, 0L)

  def parse(s: String): Fp = {
    val Array(r, h) = s.split(':')
    Fp(r.toLong, h.toLong)
  }

  /** Runs the query's own physical plan and consumes every output column.
    * A `count()` would let Catalyst prune columns and skip the work that
    * produces them, so the plan is executed as built, sort included. With
    * `weight` the named integral column is not hashed; instead each row
    * counts as that many rows. */
  def of(df: DataFrame, weight: Option[String] = None): Fp = {
    val qe = df.queryExecution
    val out = qe.executedPlan.output
    val wi = weight.map(w => out.indexWhere(_.name == w))
    require(wi.forall(_ >= 0), s"no weight column ${weight.get} in ${out.map(_.name)}")
    val hashed = out.zipWithIndex.filterNot { case (_, i) => wi.contains(i) }
      .sortBy(_._1.name)
      .map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    val hashExpr = XxHash64(hashed, 42L)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench fingerprint")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(Seq(hashExpr))
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val w = wi.fold(1L)(r.getLong)
          n += w
          h += w * proj(r).getLong(0)
        }
        Iterator(Fp(n, h))
      }.collect()
    }
    parts.foldLeft(zero)(_ + _)
  }
}

/** One traced interval. `parent` is the enclosing span's id (-1 at the
  * root); spans of one operation share `op`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: String)

/** Spans held in memory and written when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var op = ""
  var enabled = false

  def withOp[T](id: String)(body: => T): T = {
    val prev = op
    op = id
    try body finally op = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.size
      val parent = open.headOption.getOrElse(-1)
      buf += Span(id, name, System.nanoTime(), -1L, parent, op)
      open.push(id)
      try body
      finally {
        open.pop()
        buf(id) = buf(id).copy(endNs = System.nanoTime())
      }
    }

  /** A span whose bounds were measured elsewhere (a micro-batch, from its
    * progress record). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) buf += Span(buf.size, name, startNs, endNs, open.headOption.getOrElse(-1), op)

  def all: Seq[Span] = buf.toSeq

  /** Self time per span name over the spans `keep` selects: each span's
    * duration minus the part its direct children cover. */
  def selfSeconds(keep: Span => Boolean): Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    buf.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    buf.filter(keep).groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)).max(0L)).sum / 1e9
    }
  }
}

/** Counters of the scheduler and the tasks, summed per (operation, phase).
  * The client thread tags its jobs with the local properties below; the
  * listener maps each stage back to the job that submitted it. */
final class TaskCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L

  def +=(o: TaskCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input
  }
}

object JobTags {
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
}

final class JobListener extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, (String, String)]()
  val counters = new ConcurrentHashMap[(String, String), TaskCounters]()

  private def at(k: (String, String)): TaskCounters =
    counters.computeIfAbsent(k, _ => new TaskCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val k = (p.flatMap(x => Option(x.getProperty(JobTags.Op))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty(JobTags.Phase))).getOrElse(""))
    e.stageIds.foreach(stageKey.put(_, k))
    val c = at(k)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageKey.get(e.stageInfo.stageId)).foreach { k =>
      val c = at(k)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageKey.get(e.stageId)).foreach { k =>
      val c = at(k)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          if (info != null)
            c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }

  def reset(): Unit = { counters.clear(); stageKey.clear() }

  def total(pred: ((String, String)) => Boolean): TaskCounters = {
    val t = new TaskCounters
    counters.asScala.foreach { case (k, c) => if (pred(k)) t += c }
    t
  }
}

/** Progress records of the streaming queries, as the listener bus
  * delivers them. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Shape of an executed plan, read after the action so adaptive
  * execution's final plan is the one counted. */
final case class PlanShape(exchanges: Int, scans: Int, codegenFallbacks: Int, kernel: Boolean)

object PlanShape extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanShape = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val exprs = nodes.flatMap(_.expressions.flatMap(e => e.collect { case x => x }))
    PlanShape(
      exchanges = nodes.count {
        case _: Exchange | _: ReusedExchangeExec => true
        case _ => false
      },
      scans = nodes.count {
        case _: QueryStageExec | _: ReusedExchangeExec => false
        case _: LeafExecNode => true
        case _ => false
      },
      codegenFallbacks = exprs.count(_.isInstanceOf[CodegenFallback]),
      kernel = exprs.exists(_.getClass.getName.startsWith("graft.functions.")))
  }
}

/** Bytes of blocks held by the block manager (cached tables, memos,
  * checkpoints). */
object Storage {
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
