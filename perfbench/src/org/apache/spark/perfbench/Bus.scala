package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so
  * counts read at a span boundary belong to the work before it. The
  * bus is private to Spark's own packages, hence this one-line door. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
