package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The drain call is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
