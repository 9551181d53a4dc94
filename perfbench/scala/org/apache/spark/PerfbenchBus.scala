package org.apache.spark

/** Lets the benchmark wait until every listener has seen the events of the
  * operation that just finished, so jobs and plans are billed to the right
  * query. `listenerBus` is private to Spark, hence the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
