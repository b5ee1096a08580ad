package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; tracing needs every queued
  * job, stage, task and streaming event delivered before it reads its
  * counters, so this one-line shim lives inside the Spark package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
