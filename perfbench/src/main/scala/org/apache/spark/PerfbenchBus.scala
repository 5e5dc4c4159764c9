package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run needs
  * it so that every job and task event is attributed before spans are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
