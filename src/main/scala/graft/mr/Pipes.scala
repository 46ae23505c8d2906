package graft.mr

import java.io.{File, FilterInputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** External-executable plumbing mirroring the reference worker's
  * invocation contract (`/root/reference/mapreduce/worker/__main__.py:75-77`):
  * `subprocess.run([executable, file], shell=True, stdin=file)`. With
  * `shell=True` + a list, Python runs `sh -c <executable> <file>` — the
  * file lands in the shell's `$0`, NOT in the executable's argv, so
  * executables read ONLY stdin (that is why grep_map.py falls back to
  * its default query). We reproduce that exactly: `sh -c cmd $0=file`
  * with stdin redirected from the file.
  */
object Pipes {

  /** Run `sh -c cmd` with `$0` = file and stdin redirected from the
    * file; stream stdout lines. Map stage: one process per input file.
    */
  def pipeFile(cmd: String, file: String): Iterator[String] = lines(Iterator.single(stdout(cmd, file)))

  /** Start `sh -c cmd` with `$0` = file and stdin redirected from the
    * file, and return its stdout as bytes. Reading it to its end waits
    * for the process and fails on a non-zero exit status.
    */
  private[mr] def stdout(cmd: String, file: String): InputStream = {
    val pb = new ProcessBuilder("/bin/sh", "-c", cmd, file)
    pb.redirectInput(new File(file))
    // Inherit stderr like the reference (subprocess.run without
    // stderr=PIPE): a chatty executable can never fill an undrained pipe
    // buffer and deadlock the task.
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    new ProcessOutput(pb.start(), cmd, cleanup = () => ())
  }

  /** Run a partition's line runs through `cmd`: spill the iterator to a
    * temp file (bounded memory — the partition may not fit in RAM), then
    * invoke exactly like pipeFile. A run (line, n) is written as n copies
    * of the line, encoded once. Reduce stage: one process per sorted
    * partition (= the reference's reduceNN file). The temp file is
    * deleted once the output is drained or the task ends, and at once if
    * the spill or the process start fails (a shuffle fetch failure
    * surfaces inside `runs`).
    */
  def pipePartition(cmd: String, runs: Iterator[(String, Long)]): Iterator[String] = {
    val tmp = Files.createTempFile("graft-reduce-", ".txt")
    val proc =
      try {
        writeRuns(tmp, runs)
        val pb = new ProcessBuilder("/bin/sh", "-c", cmd, tmp.toString)
        pb.redirectInput(tmp.toFile)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        pb.start()
      } catch {
        case e: Throwable =>
          Files.deleteIfExists(tmp)
          throw e
      }
    lines(Iterator.single(new ProcessOutput(proc, cmd, cleanup = () => Files.deleteIfExists(tmp): Unit)))
  }

  /** Write line runs to `file` as UTF-8 lines, each followed by '\n': a
    * run (line, n) is n copies of the line, encoded once and copied into
    * one 64 KiB buffer, which is written whenever the next copy would
    * not fit.
    */
  def writeRuns(file: Path, runs: Iterator[(String, Long)]): Unit = {
    val out = Files.newOutputStream(file)
    try {
      val buf = new Array[Byte](1 << 16)
      var pos = 0
      runs.foreach { case (line, n) =>
        val bytes = (line + "\n").getBytes(UTF_8)
        var i = 0L
        while (i < n) {
          if (bytes.length > buf.length - pos) {
            out.write(buf, 0, pos)
            pos = 0
          }
          if (bytes.length > buf.length) out.write(bytes)
          else {
            System.arraycopy(bytes, 0, buf, pos, bytes.length)
            pos += bytes.length
          }
          i += 1
        }
      }
      out.write(buf, 0, pos)
    } finally out.close()
  }

  /** The lines of `streams`, each decoded from UTF-8 as
    * `InputStreamReader` decodes (malformed input becomes U+FFFD).
    */
  private[mr] def lines(streams: Iterator[InputStream]): Iterator[String] = {
    val slices = new LineSlices(streams)
    new Iterator[String] {
      private var ready = false
      def hasNext: Boolean = ready || { ready = slices.next(); ready }
      def next(): String = {
        if (!hasNext) throw new NoSuchElementException("no more lines")
        ready = false
        decode(slices.bytes, slices.start, slices.end)
      }
    }
  }

  /** Count the lines of `streams` into (line, n) runs in one counter of
    * `budget` bytes ([[ByteRuns.combine]]). Lines are counted as bytes;
    * each distinct line is decoded once, when its run is emitted.
    */
  private[mr] def lineRuns(streams: Iterator[InputStream], budget: Long): Iterator[(String, Long)] =
    ByteRuns.combine(new LineSlices(streams), budget)((bytes, start, end, n) => (decode(bytes, start, end), n))

  /** UTF-8 bytes as `InputStreamReader` decodes them: each malformed
    * sequence becomes U+FFFD.
    */
  private[mr] def decode(bytes: Array[Byte], start: Int, end: Int): String =
    new String(bytes, start, end - start, UTF_8)

  /** The lines of each stream in turn, split where
    * `BufferedReader.readLine` splits: at '\n', '\r' or "\r\n". A last
    * line without a terminator counts; nothing after a final terminator
    * does. Each stream is closed once read to its end. None of the three
    * bytes can occur inside a multi-byte UTF-8 sequence, malformed or
    * not, so splitting the bytes and then decoding each line gives what
    * decoding and then splitting gives.
    */
  private[mr] final class LineSlices(streams: Iterator[InputStream]) extends ByteRuns.Slices {
    private val buf = new Array[Byte](1 << 16)
    private var pos = 0
    private var lim = 0
    private var in: InputStream = null
    private var skipLF = false // the last line ended at a '\r'
    private var carry = new Array[Byte](1 << 8) // a line that straddles reads

    var bytes: Array[Byte] = buf
    var start = 0
    var end = 0

    def next(): Boolean = {
      var carried = 0
      while (true) {
        if (pos == lim) {
          if (in == null) {
            if (!streams.hasNext) return false
            in = streams.next()
            skipLF = false
          }
          val n = in.read(buf, 0, buf.length)
          if (n < 0) {
            in.close()
            in = null
            if (carried > 0) return slice(carry, 0, carried)
          } else {
            pos = 0
            lim = n
          }
        } else if (skipLF) {
          skipLF = false
          if (buf(pos) == '\n') pos += 1
        } else {
          var i = pos
          while (i < lim && buf(i) != '\n' && buf(i) != '\r') i += 1
          if (i == lim) {
            carried = append(carried, pos, lim)
            pos = lim
          } else {
            skipLF = buf(i) == '\r'
            val from = pos
            pos = i + 1
            return if (carried == 0) slice(buf, from, i) else slice(carry, 0, append(carried, from, i))
          }
        }
      }
      false
    }

    private def slice(b: Array[Byte], from: Int, until: Int): Boolean = {
      bytes = b
      start = from
      end = until
      true
    }

    /** Append `buf(from until until)` to the carried line of `carried` bytes. */
    private def append(carried: Int, from: Int, until: Int): Int = {
      val n = carried + until - from
      if (n > carry.length) carry = java.util.Arrays.copyOf(carry, math.max(n, 2 * carry.length))
      System.arraycopy(buf, from, carry, carried, until - from)
      n
    }
  }

  /** A process's stdout. At its end it waits for the process, runs
    * `cleanup` and fails on a non-zero status (Spark's task retry then
    * gives the reference's "re-queue on failure" semantics for free). If
    * the consumer stops early (limit/take), the task-completion listener
    * destroys the process so nothing leaks.
    */
  private final class ProcessOutput(proc: Process, cmd: String, cleanup: () => Unit)
      extends FilterInputStream(proc.getInputStream) {
    Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      if (proc.isAlive) proc.destroyForcibly()
      cleanup()
    })
    private var exited = false

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len)
      if (n < 0 && !exited) {
        exited = true
        close()
        val code = proc.waitFor()
        cleanup()
        if (code != 0) throw new RuntimeException(s"executable failed ($code): $cmd")
      }
      n
    }
  }
}
