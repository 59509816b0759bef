package org.apache.spark

/** Waits until every posted listener event has been delivered, so a span's
  * counters are complete when it closes. The bus is `private[spark]`, hence
  * this package.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
