package org.apache.spark

/** Blocks until every posted listener event has been delivered, so job,
  * stage and streaming-progress records are complete before they are read.
  * The listener bus is private to Spark; this object sits in Spark's
  * package to reach it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
