package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SparkStrategy

/** The `private[sql]`/`private[spark]` touch points graft needs: turning
  * a hand-built LogicalPlan into a DataFrame, registering a planner
  * strategy on a live session, writing a default into the conf of the
  * SparkContext a session is being built on, and draining the listener
  * bus. Isolated here (the standard spark-namespace shim pattern) so
  * graft.* stays on public API; Spark 4 split Dataset into api/classic,
  * hence the casts to the classic implementations that actually carry
  * `ofRows`/`experimental`. */
object PlanApi {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Split a sort Column (`c.asc` / `c.desc` / bare) into its underlying
    * column and an ascending flag. Rank's cut-key bucketing compares row
    * tuples against collected boundary keys under the dim's sort order,
    * which needs the SortOrder's child back as a usable Column — an
    * Expression⇄Column bridge the public API no longer exposes (Spark 4
    * wraps Column around ColumnNode; ExpressionUtils is the classic
    * converter pair). */
  def sortChild(c: org.apache.spark.sql.Column): (org.apache.spark.sql.Column, Boolean) = {
    import org.apache.spark.sql.internal.SortOrder
    c.node match {
      case SortOrder(child, dir, _, _) =>
        (org.apache.spark.sql.Column(child), dir == SortOrder.Ascending)
      case _ => (c, true)
    }
  }

  /** Idempotently append a planner strategy to the session. */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Idempotently append an optimizer rule to the session (runtime twin of
    * `SparkSessionExtensions.injectOptimizerRule`). extraOptimizations run
    * at the end of optimization, before physical planning — early enough
    * for FileSourceStrategy to turn an injected partition predicate into
    * actual directory pruning. */
  def addOptimization(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ r
  }

  /** Remove a previously added optimizer rule (test hook). */
  def removeOptimization(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.experimental.extraOptimizations =
      cs.experimental.extraOptimizations.filterNot(_ == r)
  }

  /** Set `key` on the active SparkContext's conf unless it is set there
    * already (`SparkContext.getActive` and `.conf` are `private[spark]`).
    * Called from a `spark.sql.extensions` entry, which runs after the
    * context exists and before the session reads that conf into its own:
    * static SQL conf written here reaches the session, and a value the
    * user put on the builder wins. */
  def setIfMissing(key: String, value: String): Unit =
    SparkContext.getActive.foreach(_.conf.setIfMissing(key, value))

  /** Block until every event posted so far has reached every listener
    * (`SparkContext.listenerBus` is `private[spark]`); a listener's counts
    * are then complete for the actions that have returned. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
