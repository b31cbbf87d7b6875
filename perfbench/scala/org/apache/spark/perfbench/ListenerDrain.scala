package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The benchmark's one door into Spark's `private[spark]` surface:
  * listener events are posted asynchronously, and the public API has no
  * way to wait for them. Blocking until every listener queue is empty
  * makes a counter read after an action see all of that action's events.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
