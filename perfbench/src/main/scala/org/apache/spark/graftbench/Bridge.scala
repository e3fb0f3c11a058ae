package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the harness needs: block until every posted
  * listener event has been delivered, so a pass's job, task and streaming
  * events are all in before the pass is summarised.
  */
object Bridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
