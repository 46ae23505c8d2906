package graft.mr

import java.io.{BufferedOutputStream, BufferedReader, File, InputStreamReader}
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
  def pipeFile(cmd: String, file: String): Iterator[String] = {
    val pb = new ProcessBuilder("/bin/sh", "-c", cmd, file)
    pb.redirectInput(new File(file))
    // Inherit stderr like the reference (subprocess.run without
    // stderr=PIPE): a chatty executable can never fill an undrained pipe
    // buffer and deadlock the task.
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    streamOutput(pb.start(), cmd, cleanup = None)
  }

  /** Run a partition's line runs through `cmd`: spill the iterator to a
    * temp file (bounded memory — the partition may not fit in RAM), then
    * invoke exactly like pipeFile. A run (line, n) is written as n copies
    * of the line, encoded once. Reduce stage: one process per sorted
    * partition (= the reference's reduceNN file).
    */
  def pipePartition(cmd: String, runs: Iterator[(String, Long)]): Iterator[String] = {
    val tmp = Files.createTempFile("graft-reduce-", ".txt")
    writeRuns(tmp, runs)
    val pb = new ProcessBuilder("/bin/sh", "-c", cmd, tmp.toString)
    pb.redirectInput(tmp.toFile)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    streamOutput(pb.start(), cmd, cleanup = Some(() => Files.deleteIfExists(tmp)))
  }

  /** Write line runs to `file` as UTF-8 lines, each followed by '\n': a
    * run (line, n) is n copies of the line, encoded once.
    */
  def writeRuns(file: Path, runs: Iterator[(String, Long)]): Unit = {
    val w = new BufferedOutputStream(Files.newOutputStream(file), 1 << 16)
    try {
      runs.foreach { case (line, n) =>
        val bytes = (line + "\n").getBytes(UTF_8)
        var i = 0L
        while (i < n) { w.write(bytes); i += 1 }
      }
    } finally w.close()
  }

  /** Lazily stream a process's stdout as lines; on exhaustion wait for
    * exit, fail the task on non-zero status (Spark's task retry then
    * gives the reference's "re-queue on failure" semantics for free).
    * If the consumer stops early (limit/take), the task-completion
    * listener destroys the process so nothing leaks.
    */
  private def streamOutput(proc: Process, cmd: String, cleanup: Option[() => Unit]): Iterator[String] = {
    Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      if (proc.isAlive) proc.destroyForcibly()
      cleanup.foreach(_.apply())
    })
    val reader = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
    new Iterator[String] {
      private var nextLine: String = reader.readLine()
      def hasNext: Boolean = {
        if (nextLine == null) {
          val code = proc.waitFor()
          reader.close()
          cleanup.foreach(_.apply())
          if (code != 0) throw new RuntimeException(s"executable failed ($code): $cmd")
          false
        } else true
      }
      def next(): String = {
        val l = nextLine
        nextLine = reader.readLine()
        l
      }
    }
  }
}
