package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the live listener bus, which Spark keeps package-private.
  * The traced run drains it at every span boundary so the counters read
  * there include every event the span's work posted.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
