package org.apache.spark

/** Access to the one Spark-internal call the benchmark needs: waiting until
  * every queued listener event has been delivered, so a traced operation's
  * jobs, tasks and query executions are all counted before it is closed. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
