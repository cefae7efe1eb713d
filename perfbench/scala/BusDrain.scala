package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * counters read right after an action include that action's jobs. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
