package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Test hook: block until every event posted so far has reached every
  * listener. The listener bus is `private[spark]`; without this wait a
  * listener-based job count can read before the last job's events land. */
object ListenerBusWait {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
