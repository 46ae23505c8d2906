package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span tracer for the traced run.
  *
  * A span is one call the benchmark makes into an engine module. It carries
  * name, layer (the module), start, end, parent and trace id (the id of the
  * top-level span it belongs to). While a span is open the benchmark sets
  * the Spark job group to the span id, so the listener below attributes
  * every job, stage and task to the span that caused it. Jobs started under
  * a foreign group (a streaming thread sets its own) fall back to the trace
  * that was open when they started: the benchmark runs one operation at a
  * time, so that attribution is exact.
  */
object Trace {
  @volatile var enabled = false

  final case class Span(
      id: Long, trace: Long, parent: Long, name: String, layer: String,
      startMs: Long, startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  // SparkContext.SPARK_JOB_GROUP_ID, which is private to Spark
  private val JobGroupKey = "spark.jobGroup.id"
  private val ids = new AtomicLong(0L)
  val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  @volatile private var openTrace = 0L
  @volatile private var sc: Option[SparkContext] = None

  def attach(context: SparkContext): Unit = {
    // job and stage ids restart with every context
    jobs.clear()
    stages.clear()
    taskFailures.clear()
    sc = Some(context)
    context.addSparkListener(Jobs)
  }

  /** Run `body` as a span; a no-op wrapper when tracing is off. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parents = stack.get
      val id = ids.incrementAndGet()
      val trace = parents.headOption.map(_.trace).getOrElse(id)
      val s = Span(id, trace, parents.headOption.map(_.id).getOrElse(0L), name, layer,
        System.currentTimeMillis, System.nanoTime)
      val prevGroup = sc.map(_.getLocalProperty(JobGroupKey))
      sc.foreach(_.setJobGroup(s"span-$id", name))
      stack.set(s :: parents)
      if (parents.isEmpty) openTrace = id
      try body
      finally {
        s.endNs = System.nanoTime
        s.endMs = System.currentTimeMillis
        stack.set(parents)
        sc.foreach(_.setLocalProperty(JobGroupKey, prevGroup.orNull))
        if (parents.isEmpty) openTrace = 0L
        spans.synchronized { spans += s }
      }
    }

  // ------------------------------------------------------------ listener

  final case class Job(id: Int, span: Long, fallbackTrace: Long, startMs: Long,
      stages: Seq[Int], var endMs: Long = -1L)
  final case class Stage(id: Int, span: Long, fallbackTrace: Long, var durMs: Long = 0L,
      var tasks: Int = 0, var shuffleWrite: Long = 0L, var spill: Long = 0L)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val taskFailures = new ConcurrentHashMap[Int, Int]() // stage id -> failed tasks

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toLong).getOrElse(0L)

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, spanOf(e.properties), openTrace, e.time, e.stageIds)): Unit
    // a stage belongs to the span whose job ran it: a shuffle stage reused
    // (skipped) by a later job is not counted again
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.put(e.stageInfo.stageId,
        Stage(e.stageInfo.stageId, spanOf(e.properties), openTrace)): Unit
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      Option(stages.get(i.stageId)).foreach { s =>
        s.durMs = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
        s.tasks = i.numTasks
        s.shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
        s.spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) taskFailures.merge(e.stageId, 1, _ + _): Unit
  }

  /** Streaming progress, one record per micro-batch trigger. */
  val progress = ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]
  object Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.synchronized { progress += e.progress.durationMs }
  }

  // --------------------------------------------------------- accounting

  /** Spark work attributed to the spans of `trace` (a top-level span id). */
  final case class Cost(jobs: Int, jobSeconds: Double, gapSeconds: Double, tasks: Int,
      shuffleWrite: Long, spill: Long, failures: Int, mapStageS: Double,
      resultStageS: Double, tailS: Double)

  def tracesOf(name: String): Seq[Span] =
    spans.synchronized(spans.filter(s => s.parent == 0L && s.name == name).toSeq)

  def cost(top: Span): Cost = {
    val members = spans.synchronized(spans.filter(_.trace == top.trace).map(_.id).toSet)
    def owned(span: Long, fallbackTrace: Long) =
      if (span != 0L) members(span) else fallbackTrace == top.trace
    val js = jobs.values.asScala.toSeq.filter(j => owned(j.span, j.fallbackTrace)).sortBy(_.startMs)
    // union of job intervals clipped to the span: overlapping jobs (the
    // concurrent legs of a batch) count once, so the gap never goes negative
    var covered = 0L
    var reach = top.startMs
    js.foreach { j =>
      val a = math.max(j.startMs, reach)
      val b = math.min(if (j.endMs < 0) top.endMs else j.endMs, top.endMs)
      if (b > a) { covered += b - a; reach = b }
    }
    val wall = top.seconds
    val st = stages.values.asScala.toSeq.filter(s => owned(s.span, s.fallbackTrace))
    val resultIds = js.map(_.stages.max).toSet
    val (mapSt, resSt) = st.partition(s => s.shuffleWrite > 0 && !resultIds(s.id))
    val lastEnd = js.map(_.endMs).filter(_ >= 0).foldLeft(top.startMs)(math.max)
    Cost(js.size, covered / 1e3, math.max(0.0, wall - covered / 1e3), st.map(_.tasks).sum,
      st.map(_.shuffleWrite).sum, st.map(_.spill).sum,
      st.map(s => taskFailures.getOrDefault(s.id, 0)).sum,
      mapSt.map(_.durMs).sum / 1e3, resSt.map(_.durMs).sum / 1e3,
      math.max(0L, top.endMs - lastEnd) / 1e3)
  }

  /** Self seconds per layer: each span's wall minus its children's. */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = spans.synchronized(spans.toSeq)
    val childSum = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    all.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJsonl(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.synchronized(spans.toSeq).foreach { s =>
      w.write(s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},""" +
        s""""name":"${Json.esc(s.name)}","layer":"${s.layer}","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"seconds":${s.seconds}}""")
      w.write('\n')
    } finally w.close()
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
