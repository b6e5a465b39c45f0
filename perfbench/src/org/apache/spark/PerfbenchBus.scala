package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * listener queue has delivered the events already posted, so a traced op's
  * job, query-execution and streaming-progress counters are complete when
  * the op's record is closed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
