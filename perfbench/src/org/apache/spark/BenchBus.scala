package org.apache.spark

/** The listener bus's drain is package-private to Spark; the harness needs
  * it so per-span task totals are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
