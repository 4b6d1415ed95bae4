package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchBus {

  /** Blocks until every event already posted has reached the listeners, so
    * counters read right after an action include that action's tasks.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
