package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private:
  * blocks until every event posted so far has reached every listener. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
