package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * queued listener event has been delivered, so counters read after a
  * span ends include that span's jobs. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
