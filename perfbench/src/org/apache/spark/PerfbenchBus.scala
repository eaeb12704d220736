package org.apache.spark

/** Lets the benchmark's tracer wait until every Spark listener event posted
  * so far has been delivered (the listener bus is asynchronous). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
