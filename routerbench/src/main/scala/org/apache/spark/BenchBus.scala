package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * per-batch listener counts are complete when they are read. The bus is
  * package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
