package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus, whose
  * drain call is package-private, before it reads what its listeners
  * recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
