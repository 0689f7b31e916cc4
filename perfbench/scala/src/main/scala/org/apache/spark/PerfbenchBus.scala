package org.apache.spark

/** The listener bus is package-private; span boundaries must wait for
  * it so that every task event of a finished call is counted inside
  * that call's span and not the next one. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
