package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to Spark's `private[spark]` listener bus: block until every
  * event posted so far has reached the listeners, so that counts a test
  * reads after a call cover all of that call's jobs.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
