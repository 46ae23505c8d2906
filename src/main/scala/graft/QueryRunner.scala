package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Appender, LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One query run's cost and log record, written as one JSONL line.
  *
  * `jobS` is the union of the run's job intervals, clipped to the run, and
  * `gapS` is wall minus that union: driver time with no job running. Jobs
  * that overlap (the concurrent legs of `legsInParallel`) count once, so
  * the gap is never negative. `jobSumS` is the plain sum of job durations,
  * which exceeds wall when jobs overlap. `logs` counts the WARN and ERROR
  * lines of the run's window by "LEVEL logger", then by message template
  * (integer ids masked). `jobSpansMs` (start, end) is kept for callers and
  * is not written.
  */
final case class QueryRecord(
    name: String, pass: Int, wallS: Double, jobs: Int, jobS: Double, jobSumS: Double,
    gapS: Double, shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    error: Option[String], warnLines: Int, errorLines: Int,
    logs: Map[String, Map[String, Int]], jobSpansMs: Seq[(Long, Long)]) {

  def json: String = {
    import QueryRunner.{jsonString => q}
    def f(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def counts(m: Map[String, Int]) =
      m.toSeq.sortBy(-_._2).map { case (k, n) => s"${q(k)}:$n" }.mkString("{", ",", "}")
    s"""{"name":${q(name)},"pass":$pass,"wall_s":${f(wallS)},"jobs":$jobs,""" +
      s""""job_s":${f(jobS)},"job_sum_s":${f(jobSumS)},"gap_s":${f(gapS)},""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""input_bytes":$inputBytes,"error":${error.map(q).getOrElse("null")},""" +
      s""""warn_lines":$warnLines,"error_lines":$errorLines,"logs":""" +
      logs.toSeq.sortBy(_._1).map { case (k, m) => s"${q(k)}:${counts(m)}" }.mkString("{", ",", "}") +
      "}"
  }
}

/** The one per-query loop of `Bench` and `Verify`.
  *
  * `run` times one query, waits until every job that started in its
  * window has ended, releases the session's scratch (`Engine.releaseScratch`)
  * and appends a [[QueryRecord]] to `recordsPath`. The window covers the
  * release too: its "locally checkpointed" WARNs belong to the query. The
  * job listener and the log counter are attached here and detached by
  * `close`, never by `Engine.session`.
  *
  * `quietConsole` lowers the console to ERROR while the counter still sees
  * every WARN (`Bench`: the tail of its stdout must stay readable). One
  * runner per session at a time, and queries run one after another: the
  * window is the session's, not a thread's.
  */
final class QueryRunner(spark: SparkSession, recordsPath: String, quietConsole: Boolean = false)
    extends AutoCloseable {

  private final class Window {
    val jobs = mutable.LinkedHashMap.empty[Int, Array[Long]] // id -> (start, end or -1)
    val stages = mutable.Set.empty[Int]
    var shuffleWrite, spill, input = 0L
    val logs = mutable.Map.empty[String, mutable.Map[String, Int]]
  }

  @volatile private var current: Window = null
  private def inWindow(f: Window => Unit): Unit = {
    val w = current
    if (w != null) w.synchronized(f(w))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = inWindow { w =>
      w.jobs(e.jobId) = Array(e.time, -1L)
      w.stages ++= e.stageIds
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      inWindow(_.jobs.get(e.jobId).foreach(_(1) = e.time))
    // every attempt of a stage of the window's jobs; a skipped stage never completes
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = inWindow { w =>
      val i = e.stageInfo
      if (w.stages(i.stageId)) Option(i.taskMetrics).foreach { m =>
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
      }
    }
  }

  private val counter: Appender =
    new AbstractAppender(s"graft-query-runner-${System.identityHashCode(this)}",
      null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = inWindow { w =>
        val byMsg = w.logs.getOrElseUpdate(s"${e.getLevel.name} ${e.getLoggerName}", mutable.Map.empty)
        val t = QueryRunner.template(e)
        byMsg(t) = byMsg.getOrElse(t, 0) + 1
      }
    }

  private val logContext = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val root = logContext.getConfiguration.getRootLogger
  private val console: Seq[(String, Appender)] =
    if (quietConsole) root.getAppenders.asScala.toSeq else Nil
  console.foreach { case (n, a) => root.removeAppender(n); root.addAppender(a, Level.ERROR, null) }
  counter.start()
  root.addAppender(counter, Level.WARN, null)
  logContext.updateLoggers()
  spark.sparkContext.addSparkListener(listener)

  private val out = Files.newBufferedWriter(Paths.get(recordsPath), StandardCharsets.UTF_8)

  /** Run every query once, untimed and unrecorded (plan analysis,
    * whole-stage codegen, JIT), after touching every table under `sfDir`
    * (parquet footers, filesystem cache).
    */
  def warmUp(sfDir: String, queries: Seq[(String, Registry.Q)]): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Engine.table(spark, sfDir, t).count())
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).count(): Unit
      catch { case _: Throwable => () }
      Engine.releaseScratch(spark)
    }
  }

  /** Run `body` as query `name`; a throw becomes the record's error. */
  def run(name: String, pass: Int = 1)(body: => Unit): QueryRecord = {
    // events of earlier work (the warm-up) are delivered before the window opens
    ListenerDrain(spark.sparkContext)
    val w = new Window
    current = w
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    val error =
      try { body; None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
    val wallS = (System.nanoTime - t0) / 1e9
    val endMs = System.currentTimeMillis
    try Engine.releaseScratch(spark)
    finally settle(w)
    current = null
    val rec = w.synchronized {
      val spans = w.jobs.values.map(j => (j(0), if (j(1) < 0) endMs else j(1))).toSeq
      val jobS = QueryRunner.unionMs(spans, startMs, endMs) / 1e3
      def lines(level: String) =
        w.logs.collect { case (k, m) if k.startsWith(level + " ") => m.values.sum }.sum
      QueryRecord(name, pass, wallS, spans.size, jobS, spans.map { case (a, b) => b - a }.sum / 1e3,
        math.max(0.0, wallS - jobS), w.shuffleWrite, w.spill, w.input, error,
        lines("WARN"), lines("ERROR") + lines("FATAL"),
        w.logs.map { case (k, m) => k -> m.toMap }.toMap, spans)
    }
    out.write(rec.json)
    out.newLine()
    out.flush()
    rec
  }

  // wait (at most 60 s) until every job that started in the window has
  // ended; the drain delivers the start and end events already posted
  private def settle(w: Window): Unit = {
    val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
    ListenerDrain(spark.sparkContext)
    while (w.synchronized(w.jobs.values.exists(_(1) < 0)) && System.nanoTime < deadline) {
      Thread.sleep(10)
      ListenerDrain(spark.sparkContext)
    }
  }

  def close(): Unit = {
    current = null
    spark.sparkContext.removeSparkListener(listener)
    root.removeAppender(counter.getName)
    console.foreach { case (n, a) => root.removeAppender(n); root.addAppender(a, null, null) }
    logContext.updateLoggers()
    counter.stop()
    out.close()
  }
}

object QueryRunner {

  /** The registry queries selected by `only` (`SPARK_GRAFT_ONLY`): all
    * when unset, else those whose name starts with one of its
    * comma-separated prefixes (`q1` selects q1, q10..q19, q100..q199;
    * `none` selects nothing). `scripts/selfcheck.py` reads the same rule.
    */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[(String, Registry.Q)] = {
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.toSeq.filter { case (n, _) => prefixes.forall(_.exists(n.startsWith)) }
  }

  /** Milliseconds of [from, to] covered by at least one of `spans`. */
  def unionMs(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    spans.sortBy(_._1).foreach { case (s, e) =>
      val a = math.max(s, reach)
      val b = math.min(e, to)
      if (b > a) { covered += b - a; reach = b }
    }
    covered
  }

  private val IntegerId = """(?<![\d.])\d+(?![\d.])""".r

  /** A log line's message template: its first line, then its
    * exception's class and first message line, with standalone integers
    * (ids) masked as `#`; decimals (sizes, durations) are kept.
    */
  private[graft] def template(e: LogEvent): String = {
    def firstLine(s: String) = String.valueOf(s).linesIterator.nextOption().getOrElse("")
    val thrown = Option(e.getThrown)
      .map(t => s" [${t.getClass.getSimpleName}: ${firstLine(t.getMessage)}]").getOrElse("")
    val text = firstLine(Option(e.getMessage).map(_.getFormattedMessage).orNull) + thrown
    IntegerId.replaceAllIn(text, "#").take(200)
  }

  /** A JSON string literal. The escape covers backslash, quote and ALL
    * control chars (<0x20): a tab or CR in builder-authored SQL would
    * otherwise make a reader's json.load fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
