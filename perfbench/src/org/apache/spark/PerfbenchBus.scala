package org.apache.spark

/** The listener bus is package-private; the traced run drains it after
  * each operation so every job and stage event of that operation has
  * been delivered before the operation's spans are assembled. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
