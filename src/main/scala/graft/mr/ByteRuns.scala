package graft.mr

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}
import org.apache.spark.sql.graftbridge.Bridge

/** The map-side combiner of both word counts: identical byte strings
  * (the MapReduce path's intermediate lines, the native twin's tokens)
  * become one (bytes, n) run, as a Hadoop combiner sums a map task's
  * output before the shuffle. The bytes are counted as they are read;
  * no String is made until a run is emitted.
  */
private[mr] object ByteRuns {

  /** Bytes a map task's counter may hold before it emits its runs and
    * starts over: 16 MiB. A word-count map task over a Zipf corpus holds
    * its whole vocabulary well inside it, so each distinct line crosses
    * the shuffle once per task; a task of mostly unique lines (grep)
    * flushes every 16 MiB instead of growing with its input.
    */
  val CombineBudget: Long = 16L << 20

  /** Memory is taken from the task's memory manager in chunks this size. */
  private val Chunk: Long = 1L << 20

  /** A cursor over byte slices (lines, tokens): `next` moves to the next
    * slice, `bytes(start until end)`, or returns false once the input is
    * done. A slice stays valid until the next call.
    */
  trait Slices {
    def next(): Boolean
    def bytes: Array[Byte]
    def start: Int
    def end: Int
  }

  /** Count `slices` into runs, each handed to `run(bytes, start, end, n)`
    * as it is emitted (`bytes` is the counter's arena: copy what must
    * outlive the call). The runs are emitted when the input ends or when
    * a new key would grow the counter past `budget` bytes or the task
    * refuses the memory; the counter is then cleared and counting goes
    * on, so a key may leave the task in several runs. That is lossless:
    * the shuffle's reduce side sums runs again. Run order is arbitrary;
    * the reduce side sorts. Inside a task the counter's arrays are
    * reserved from the task's execution memory; outside one (unit tests)
    * nothing is accounted.
    */
  def combine[A](slices: Slices, budget: Long)(run: (Array[Byte], Int, Int, Long) => A): Iterator[A] = {
    val memory: Memory = Option(TaskContext.get()) match {
      case Some(ctx) =>
        val grant = new Reservation(Bridge.taskMemoryManager(ctx))
        ctx.addTaskCompletionListener[Unit] { c =>
          grant.trim(0)
          Bridge.incPeakExecutionMemory(c, grant.peak)
        }
        grant
      case None => Unaccounted
    }
    val counter = new Counter(budget, memory)
    new Iterator[A] {
      private var emitted = 0 // runs of the counter handed out
      private var pending = false // the current slice did not fit: count it after the emit
      private var done = false

      def hasNext: Boolean = emitted < counter.size || {
        if (!done) fill()
        emitted < counter.size
      }

      def next(): A = {
        if (!hasNext) throw new NoSuchElementException("no more runs")
        emitted += 1
        counter.run(emitted - 1, run)
      }

      private def fill(): Unit = {
        counter.clear()
        emitted = 0
        if (pending) pending = !counter.add(slices.bytes, slices.start, slices.end)
        while (!pending && !done) {
          done = !slices.next()
          if (!done) pending = !counter.add(slices.bytes, slices.start, slices.end)
        }
      }
    }
  }

  /** Counts byte strings by open addressing over a byte arena. Key i is
    * `arena(offs(i) until offs(i + 1))`, its count `counts(i)`; a slot
    * holds a key's hash in its high 32 bits and i + 1 in its low ones
    * (0 = empty). Every array grows by doubling from a 180-byte start,
    * and a growth first reserves the footprint it needs while old and new
    * arrays both exist. A new key is not added when the footprint is past
    * `budget` or a growth it needs would pass it, or when `memory`
    * refuses that growth; an empty counter always adds, so a key larger
    * than the budget still counts.
    */
  private final class Counter(budget: Long, memory: Memory) {
    private var arena: Array[Byte] = _
    private var offs: Array[Int] = _
    private var counts: Array[Long] = _
    private var slots: Array[Long] = _
    var size = 0
    allocate()
    private val initial = footprint
    memory.reserve(initial): Unit

    private def allocate(): Unit = {
      arena = new Array[Byte](1 << 6)
      offs = new Array[Int](1 << 2 | 1)
      counts = new Array[Long](1 << 2)
      slots = new Array[Long](1 << 3)
    }

    private def footprint: Long = arena.length + 4L * offs.length + 8L * counts.length + 8L * slots.length

    /** Forget every key. Arrays that an oversized key grew past the
      * budget are dropped for initial ones and the grant shrinks to
      * match, so that key neither keeps the memory nor cuts every later
      * fill to one key.
      */
    def clear(): Unit = {
      if (footprint > math.max(budget, initial)) {
        allocate()
        memory.trim(footprint)
      } else if (size > 0) java.util.Arrays.fill(slots, 0L)
      size = 0
    }

    def run[A](i: Int, f: (Array[Byte], Int, Int, Long) => A): A = f(arena, offs(i), offs(i + 1), counts(i))

    /** Count one `src(from until until)`; false if it is a new key that
      * does not fit (nothing is counted then).
      */
    def add(src: Array[Byte], from: Int, until: Int): Boolean = {
      val h = hash(src, from, until)
      var mask = slots.length - 1
      var i = h & mask
      var s = slots(i)
      while (s != 0) {
        if ((s >>> 32).toInt == h) {
          val k = s.toInt - 1
          if (java.util.Arrays.equals(arena, offs(k), offs(k + 1), src, from, until)) {
            counts(k) += 1
            return true
          }
        }
        i = (i + 1) & mask
        s = slots(i)
      }
      if (size > 0 && footprint > budget) return false
      val len = until - from
      val used = offs(size)
      if (used + len > arena.length) {
        val n = math.max(2L * arena.length, used.toLong + len)
        if (n > Int.MaxValue - 8 || !room(n)) return false
        arena = java.util.Arrays.copyOf(arena, n.toInt)
      }
      if (size == counts.length) {
        if (!room(24L * counts.length + 4)) return false
        counts = java.util.Arrays.copyOf(counts, 2 * counts.length)
        offs = java.util.Arrays.copyOf(offs, counts.length + 1)
      }
      if (2 * (size + 1) > slots.length) {
        if (!room(16L * slots.length)) return false
        rehash(2 * slots.length)
        mask = slots.length - 1
        i = h & mask
        while (slots(i) != 0) i = (i + 1) & mask
      }
      System.arraycopy(src, from, arena, used, len)
      offs(size + 1) = used + len
      counts(size) = 1
      size += 1
      slots(i) = (h.toLong << 32) | size
      true
    }

    /** Whether a new array of `extra` bytes may be allocated now. */
    private def room(extra: Long): Boolean = {
      val need = footprint + extra
      (need <= budget && memory.reserve(need)) || (size == 0 && { memory.reserve(need); true })
    }

    private def rehash(capacity: Int): Unit = {
      val old = slots
      slots = new Array[Long](capacity)
      val mask = capacity - 1
      var j = 0
      while (j < old.length) {
        val s = old(j)
        if (s != 0) {
          var i = (s >>> 32).toInt & mask
          while (slots(i) != 0) i = (i + 1) & mask
          slots(i) = s
        }
        j += 1
      }
    }

    /** A 31-polynomial over the bytes, finished with Murmur3's fmix32 so
      * the low bits that pick a slot depend on every byte.
      */
    private def hash(b: Array[Byte], from: Int, until: Int): Int = {
      var h = 0
      var i = from
      while (i < until) {
        h = 31 * h + b(i)
        i += 1
      }
      h ^= h >>> 16
      h *= 0x85ebca6b
      h ^= h >>> 13
      h *= 0xc2b2ae35
      h ^ (h >>> 16)
    }
  }

  /** Where the counter accounts its arrays. */
  private trait Memory {

    /** Grow the grant to cover `bytes`; false if it is refused. */
    def reserve(bytes: Long): Boolean

    /** Give back what the grant holds beyond `bytes`. */
    def trim(bytes: Long): Unit
  }

  /** Outside a task (unit tests) nothing is accounted. */
  private object Unaccounted extends Memory {
    def reserve(bytes: Long): Boolean = true
    def trim(bytes: Long): Unit = ()
  }

  /** The counter's share of the task's execution memory, held in whole
    * chunks. It cannot spill, so `spill` frees nothing; a refused grant
    * makes the combiner emit its runs early instead. Its peak is reported
    * as the task's peakExecutionMemory, like Spark's own sorters and maps.
    */
  private final class Reservation(tmm: TaskMemoryManager)
      extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) with Memory {
    var peak = 0L

    def reserve(bytes: Long): Boolean = {
      var granted = true
      while (granted && used < bytes) granted = acquireMemory(Chunk) == Chunk
      peak = math.max(peak, used)
      granted
    }

    def trim(bytes: Long): Unit = {
      val keep = (bytes + Chunk - 1) / Chunk * Chunk
      if (used > keep) freeMemory(used - keep)
    }

    override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
  }
}
