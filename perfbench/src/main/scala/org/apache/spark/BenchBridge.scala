package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every queued
  * listener event has been delivered, so a traced pass's last job and task
  * events are recorded before its listeners detach.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
