package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every event
  * posted so far has reached the listeners, so a span's numbers are
  * complete when it is read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
