package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it so a
  * traced pass is only read once every one of its events has arrived.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
