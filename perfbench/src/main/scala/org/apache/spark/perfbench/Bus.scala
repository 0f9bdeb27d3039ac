package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one listener-bus call the benchmark needs that Spark keeps
  * package-private: block until every posted event has reached every
  * listener, instead of sleeping and hoping it has.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
