package org.apache.spark

/** Lets the benchmark drain Spark's asynchronous listener bus, so that every
  * event of a finished piece of work has been delivered before it reads its
  * counters. The bus is package-private to Spark, hence the package. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
