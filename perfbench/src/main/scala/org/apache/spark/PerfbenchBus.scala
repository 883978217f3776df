package org.apache.spark

/** Access to the listener bus flush, which Spark keeps package-private:
  * counters read right after an action must include that action's tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
