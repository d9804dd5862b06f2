package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * span closed right after a Spark action sees the counters of the jobs
  * it ran. Lives in Spark's package because the bus is `private[spark]`.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
