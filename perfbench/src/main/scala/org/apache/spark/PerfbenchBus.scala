package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it to read per-operation listener figures only after every
  * event of that operation has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
