package org.apache.spark

/** The benchmark's one reach into Spark's package-private surface: wait until
  * every queued listener event has been delivered, so the traced run reads
  * complete stage sums.
  */
object KgbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
