package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` hook the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so counters
  * read at the end of a timed region are complete rather than racing
  * the asynchronous bus. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
