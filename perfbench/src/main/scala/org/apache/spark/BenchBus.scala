package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is asynchronous and its drain call is package-private,
  * hence this one-line bridge in Spark's own package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
