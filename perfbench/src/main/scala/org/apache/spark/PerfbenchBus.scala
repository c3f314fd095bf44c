package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark needs
  * it to read its listeners' records only after every posted event arrived.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
