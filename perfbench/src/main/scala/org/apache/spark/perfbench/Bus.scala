package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener-bus drain `private[spark]`. A pass's counters are
  * read only after every event it caused has been delivered, so the harness
  * opens this one door. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
