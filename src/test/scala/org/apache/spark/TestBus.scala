package org.apache.spark

/** The listener bus's drain barrier is package-private to Spark; a spec
  * calls it before it reads a listener's counters, so every event the
  * measured action caused has been delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
