package graft.mr

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}
import org.apache.spark.sql.graftbridge.Bridge

/** The map task's combiner: identical intermediate lines become one
  * (line, n) run, as a Hadoop combiner sums a map task's output before
  * the shuffle.
  */
private[mr] object LineRuns {

  /** Estimated heap a map task's combine map may hold before it emits its
    * runs and starts over: 16 MiB. A word-count map task over a Zipf
    * corpus holds its whole vocabulary well inside it, so each distinct
    * line crosses the shuffle once per task; a task of mostly unique
    * lines (grep) flushes every 16 MiB instead of growing with its input.
    */
  val CombineBudget: Long = 16L << 20

  /** Memory is taken from the task's memory manager in chunks this size. */
  private val Chunk: Long = 1L << 20

  /** A new map entry's estimated heap: the line (String and array
    * headers, at most two bytes per char), the HashMap node, the count
    * cell and table slack.
    */
  private def entryBytes(line: String): Long = 112L + 2L * line.length

  /** Count `lines` into (line, n) runs in a plain hash map. The runs are
    * emitted when the input ends or when the map's estimate reaches
    * `budget` bytes; the map is then dropped and counting goes on, so a
    * line may leave the task in several runs. That is lossless: the
    * shuffle's reduce side sums runs again. Run order is arbitrary; the
    * reduce side sorts. Must run inside a task.
    */
  def combine(lines: Iterator[String], budget: Long): Iterator[(String, Long)] = {
    val ctx = TaskContext.get()
    val memory = new Reservation(Bridge.taskMemoryManager(ctx))
    ctx.addTaskCompletionListener[Unit] { c =>
      memory.release()
      Bridge.incPeakExecutionMemory(c, memory.peak)
    }
    new Iterator[(String, Long)] {
      private var runs: java.util.Iterator[java.util.Map.Entry[String, Array[Long]]] =
        java.util.Collections.emptyIterator()

      def hasNext: Boolean = runs.hasNext || {
        memory.release() // the emitted map is dropped here
        runs = if (lines.hasNext) fill() else java.util.Collections.emptyIterator()
        runs.hasNext
      }

      def next(): (String, Long) = {
        if (!hasNext) throw new NoSuchElementException("no more line runs")
        val e = runs.next()
        (e.getKey, e.getValue()(0))
      }

      private def fill() = {
        val counts = new java.util.HashMap[String, Array[Long]]
        var bytes = 0L
        var full = false
        while (!full && lines.hasNext) {
          val line = lines.next()
          val cell = counts.get(line)
          if (cell != null) cell(0) += 1
          else {
            counts.put(line, Array(1L))
            bytes += entryBytes(line)
            full = bytes >= budget || !memory.reserve(bytes)
          }
        }
        counts.entrySet.iterator
      }
    }
  }

  /** The combine map's share of the task's execution memory. It cannot
    * spill, so `spill` frees nothing; a refused grant makes the combiner
    * emit its runs early instead. Its peak is reported as the task's
    * peakExecutionMemory, like Spark's own sorters and maps.
    */
  private final class Reservation(tmm: TaskMemoryManager)
      extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {
    var peak = 0L

    /** Grow the grant to cover `bytes`; false if a chunk is refused. */
    def reserve(bytes: Long): Boolean = {
      var granted = true
      while (granted && used < bytes) granted = acquireMemory(Chunk) == Chunk
      peak = math.max(peak, used)
      granted
    }

    def release(): Unit = if (used > 0) freeMemory(used)

    override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
  }
}
