package org.apache.spark

/** The listener bus is package-private; the traced run drains it between
  * units so every job, stage and task event of a unit is counted before
  * the unit's totals are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
