package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener-bus drain Spark keeps package-private. The traced run
  * calls it at every span boundary so that each job, task and query
  * execution event is attributed before the next span starts. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
