package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private:
  * the benchmark must see every job and task event of a phase before it
  * reads the phase's counters.
  */
object ListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
