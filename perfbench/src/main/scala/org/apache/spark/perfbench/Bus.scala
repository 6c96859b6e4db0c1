package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the harness needs: block until every event
  * posted so far has reached the listeners, so a traced pass's spans are
  * complete before they are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
