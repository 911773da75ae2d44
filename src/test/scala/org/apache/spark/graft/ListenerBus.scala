package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The one `private[spark]` hook the job-count specs need: block until
  * the listener bus has delivered every event posted so far, so a count
  * read after an action is complete rather than racing the bus. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
