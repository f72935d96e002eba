package org.apache.spark

/** The listener bus's drain barrier is package-private to Spark; the
  * traced run calls it after each op so every listener event the op
  * caused is delivered before the op's counters are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
