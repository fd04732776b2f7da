package org.apache.spark

/** Access to the one Spark-internal call the benchmark needs: waiting
  * until the listener bus has delivered every posted event, so job
  * records are complete before an operation's layers are summed. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
