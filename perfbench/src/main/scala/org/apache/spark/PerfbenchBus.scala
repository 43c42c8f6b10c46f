package org.apache.spark

/** Lets the traced run wait until every posted listener event has been
  * delivered, so per-phase counts are read only after their events.
  * `listenerBus` is package-private to `org.apache.spark`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
