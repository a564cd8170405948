package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus: a counter kept by a
  * `SparkListener` is complete only once the bus has delivered every
  * event posted so far. */
object BusBridge {
  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
