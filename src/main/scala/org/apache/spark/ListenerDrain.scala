package org.apache.spark

/** Blocks until every listener event posted so far has been delivered (or
  * 10 s pass), so a listener's job and stage records are complete before
  * they are read. The listener bus is private to Spark; this object sits in
  * Spark's package to reach it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }
}
