package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * posted listener event has been delivered, so counters read after a
  * timed section include all of its jobs and tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
