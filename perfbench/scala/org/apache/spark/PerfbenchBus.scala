package org.apache.spark

/** Lets the harness wait until every listener event of a pass has been
  * delivered before it reads its spans and counters (the bus is
  * package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
