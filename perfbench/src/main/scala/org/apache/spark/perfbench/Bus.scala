package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the traced run needs: block until every
  * event posted so far has reached the registered listeners, so a
  * query's jobs, stages and tasks are all recorded before they are
  * attributed to it.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
