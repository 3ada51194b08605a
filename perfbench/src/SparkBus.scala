package org.apache.spark

/** Lets the benchmark wait until its own listener has seen every event of a
  * finished call; the listener bus is package-private in Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
