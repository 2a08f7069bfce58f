package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; traced runs need it so
  * every job, task and query event of a timed window is counted before
  * the window's metrics are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
