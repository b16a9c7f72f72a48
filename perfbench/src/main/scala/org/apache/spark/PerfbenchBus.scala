package org.apache.spark

/** The harness's one reach into Spark internals: block until every event
  * already posted to the listener bus has been delivered, so a traced op's
  * listener counts are complete before the op is closed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
