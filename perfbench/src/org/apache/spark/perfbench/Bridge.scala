package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the benchmark needs: wait until every
  * queued listener event has been delivered, so the traced run reads
  * complete job, stage and task counters after a pass. */
object Bridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
