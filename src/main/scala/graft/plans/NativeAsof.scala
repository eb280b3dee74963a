package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.PlanApi

/** A native backward as-of join operator — the full custom-operator ladder
  * (SURVEY §2.1: LogicalPlan + SparkStrategy + SparkPlan) for the one
  * semantics Spark's batch planner has no primitive for.
  *
  * Semantics: for each left row, ONE right row among rows with equal join
  * keys — backward (greatest rightTime <= leftTime), forward (smallest
  * rightTime >= leftTime), or nearest (min |Δt|, ties backward), each with
  * an optional tolerance bound; unmatched left rows keep null right
  * columns (left-outer flavor). All three directions fall out of the same
  * single-pass merge: the buffered backward candidate plus the first
  * unconsumed right row ARE the two neighbors of leftTime in the sorted
  * right stream.
  *
  * Each side is hash-clustered on its keys and sorted (keys, time) — the
  * exact SortMergeJoin geometry: one shuffle per side, per-partition merge
  * is O(|L| + |R|) with O(1) state (the current best match), spill-free by
  * construction, every right column carried without keyedAsof's
  * pack-into-one-column contract or union materialization.
  *
  * Honest measurement (round 3's as-of micro-bench, sf0.1, 95k probes × 100k
  * events, local[32]): the composed `AsofJoin.keyedAsof` beats this exec
  * ~2× (0.35 s vs 0.8 s, narrow AND wide payloads) — its window runs
  * inside whole-stage codegen while this merge pays interpreted
  * projections per row. keyedAsof stays the recommended batch path; this
  * operator is the extension-ladder template (LogicalPlan → Strategy →
  * SparkPlan) for as-of-like semantics that window functions cannot
  * express at all — nearest-within-tolerance, bidirectional nearest, or
  * merge logic that must consult both sorted streams — where no composed
  * form exists to lose to.
  *
  * Determinism: ties among right rows at equal (key, rightTime) resolve to
  * the last row in sort order — unique (key, rightTime) (true for the
  * events fixture) makes the result fully deterministic. Null keys compare
  * equal (sort semantics, unlike SQL equi-join) — time-series keys are
  * non-null in practice; callers with nullable keys should filter.
  *
  * Caveat: children are used as-is (no analyzer dedup pass), so the two
  * sides must come from independent plans or be explicitly aliased, and
  * column names must be disjoint — `NativeAsof.asofJoin` enforces the
  * latter. */
case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    direction: String = "backward",
    tolerance: Long = Long.MaxValue) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinPlan]] as [[AsofJoinExec]]; a no-op on everything else. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsofJoinPlan =>
      AsofJoinExec(p.leftKeys, p.rightKeys, p.leftTime, p.rightTime,
        p.direction, p.tolerance, planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    direction: String, tolerance: Long,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // the SortMergeJoin geometry: co-cluster on keys, sort (keys, time)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKeys; val rk = rightKeys
    val lt = leftTime; val rt = rightTime
    val out = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, leftOut)
      val rKeyProj = UnsafeProjection.create(rk, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      // best's key is re-projected through its OWN projection (bKeyProj)
      // instead of copied per left row; the buffered best row itself is a
      // single reusable UnsafeRow filled via copyFrom — the merge allocates
      // nothing per row in steady state.
      val bKeyProj = UnsafeProjection.create(rk, rightOut)
      val bTimeProj = UnsafeProjection.create(Seq(rt), rightOut)
      val resultProj = UnsafeProjection.create(out, out)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightOut.size)
      var cur: InternalRow = if (rIter.hasNext) rIter.next() else null
      val best = new UnsafeRow(rightOut.size) // latest right row for the current key
      best.pointTo(new Array[Byte](64), 64)   // copyFrom grows the buffer as needed
      var hasBest = false
      val dir = direction
      val tol = tolerance
      // forward/nearest (and any finite tolerance) measure distance on the
      // raw long the time column stores — enforced long-backed by the API
      def tv(r: InternalRow): Long = r.getLong(0)
      // distances via subtractExact: opposite-sign extremes (e.g. a probe at
      // Long.MaxValue µs vs a right row before the epoch) would wrap silently
      // and flip a match decision — fail loudly instead
      def dist(a: Long, b: Long): Long = Math.subtractExact(a, b)
      lIter.map { l =>
        val lKey = lKeyProj(l)   // valid until the next left row (own buffer)
        val lTs = lTimeProj(l)   // ditto; right-side projections are separate
        if (hasBest && keyOrd.compare(bKeyProj(best), lKey) != 0) hasBest = false
        var advancing = cur != null
        while (advancing) {
          val c = keyOrd.compare(rKeyProj(cur), lKey)
          if (c < 0 || (c == 0 && timeOrd.compare(rTimeProj(cur), lTs) <= 0)) {
            if (c == 0) { best.copyFrom(cur.asInstanceOf[UnsafeRow]); hasBest = true }
            cur = if (rIter.hasNext) rIter.next() else null
            advancing = cur != null
          } else advancing = false
        }
        // backward candidate: `best` (greatest rt <= lt). forward candidate:
        // `cur` (the first unconsumed right row — by construction the
        // earliest rt > lt) when its key matches; an rt == lt row was
        // consumed into `best` and surfaces as distance 0.
        val matched: InternalRow = dir match {
          case "backward" =>
            if (hasBest && (tol == Long.MaxValue ||
              dist(tv(lTs), tv(bTimeProj(best))) <= tol)) best else null
          case _ =>
            val ltv = tv(lTs)
            val db = if (hasBest) dist(ltv, tv(bTimeProj(best))) else Long.MaxValue
            val curMatch = cur != null && keyOrd.compare(rKeyProj(cur), lKey) == 0
            val df = if (curMatch) dist(tv(rTimeProj(cur)), ltv) else Long.MaxValue
            if (dir == "forward") {
              if (db == 0L) best
              else if (curMatch && df <= tol) cur
              else null
            } else { // nearest: smaller distance wins, tie → backward
              if (hasBest && db <= tol && db <= df) best
              else if (curMatch && df <= tol) cur
              else null
            }
        }
        resultProj(joined(l, if (matched != null) matched else nullRight))
      }
    }
  }
}

/** DataFrame face of the native as-of join.
  *
  * `direction`: "backward" (greatest rt <= lt — the default), "forward"
  * (smallest rt >= lt), "nearest" (min |rt - lt|, ties to backward) —
  * pandas merge_asof semantics. `tolerance` bounds the match distance in
  * the raw units of the time column (µs for timestamps); forward/nearest
  * and any finite tolerance require a long-backed time type
  * (TIMESTAMP/TIMESTAMP_NTZ/BIGINT) since distance is measured on the
  * stored long. Forward and nearest are the modes no window-function
  * composition can express in one pass — the reason this operator exists
  * beyond the extension-ladder demonstration. */
object NativeAsof {

  private val longBacked: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.TimestampType,
    org.apache.spark.sql.types.TimestampNTZType,
    org.apache.spark.sql.types.LongType)

  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               direction: String = "backward",
               tolerance: Long = Long.MaxValue): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"asofJoin requires disjoint column names; rename ${overlap.mkString(", ")}")
    require(Set("backward", "forward", "nearest")(direction),
      s"asofJoin: unknown direction '$direction'")
    require(tolerance >= 0, "asofJoin: tolerance must be non-negative")
    val spark = left.sparkSession
    PlanApi.addStrategy(spark, AsofJoinStrategy)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"asofJoin: no column '$n'"))
    val (lt, rt) = (attr(lp, leftTime), attr(rp, rightTime))
    if (direction != "backward" || tolerance != Long.MaxValue)
      require(longBacked(lt.dataType) && longBacked(rt.dataType),
        s"asofJoin: direction=$direction/tolerance need a long-backed time " +
          s"column, got ${lt.dataType.simpleString}/${rt.dataType.simpleString}")
    PlanApi.ofRows(spark, AsofJoinPlan(lp, rp,
      Seq(attr(lp, leftKey)), Seq(attr(rp, rightKey)), lt, rt,
      direction, tolerance))
  }
}
