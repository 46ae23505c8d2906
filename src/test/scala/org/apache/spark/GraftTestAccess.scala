package org.apache.spark

/** Test-only accessor for `private[spark]` runtime state.
  *
  * The grouper memory pin (MapReduceSpec) bounds per-task peak execution
  * memory by the memory manager's page-granular allocation floor; the
  * page size comes from a heuristic over executor memory and cores
  * (`spark.buffer.pageSize` override, else a power-of-two clamp), so a
  * hard-coded MiB constant is brittle across environments and Spark
  * versions. This exposes the actual configured page size so the test
  * can pin "one page + bookkeeping" instead of a magic number.
  */
object GraftTestAccess {
  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes

  /** Block until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
