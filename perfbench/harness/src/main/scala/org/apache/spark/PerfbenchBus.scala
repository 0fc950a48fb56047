package org.apache.spark

/** Deterministic listener drain: waits until every posted event has been
  * delivered, instead of sleeping and hoping. `listenerBus` is
  * package-private to `org.apache.spark`, hence this one-method shim. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
