package org.apache.spark

/** The one Spark-internal call the benchmark needs: listener events
  * are delivered asynchronously, and per-span counters may only be read
  * once every event posted so far has been delivered.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
