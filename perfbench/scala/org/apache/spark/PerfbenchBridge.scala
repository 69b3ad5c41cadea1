package org.apache.spark

/** The one private Spark hook the traced run needs: wait until every queued
  * listener event has been delivered, so the last spans' jobs, tasks and
  * query executions are attributed before the trace is written.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
