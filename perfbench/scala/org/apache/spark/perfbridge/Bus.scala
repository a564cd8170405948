package org.apache.spark.perfbridge

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * the benchmark waits for every queued event of an operation before it
  * reads that operation's listener counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
