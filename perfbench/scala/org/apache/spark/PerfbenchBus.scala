package org.apache.spark

/** The listener bus is asynchronous: a traced span must wait until every
  * event of its jobs has been delivered before it reads the counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
