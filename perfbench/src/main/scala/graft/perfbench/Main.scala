package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Engine
import graft.mr.{JobSpec, MapReduceJob, NativeTextJobs}

/** One benchmark run of one workload inside a JVM.
  *
  * Usage: Main <workload> <run dir> <seconds> <trace 0|1> <exec dir>
  *
  * The run dir holds the generated inputs (see gen.py). The run sets up
  * [[Main.Setups]] times (session and warm table scans; the median is
  * `setup_s`), warms up untimed, then measures passes for `seconds`,
  * checking every operation's output. With trace 1 it also records spans
  * and Spark job accounting, runs the layer probes, and writes the spans as
  * JSONL. Raw samples go to `<run dir>/result.json`; run.py reduces them to
  * medians.
  */
object Main {
  val Setups = 3
  // registry queries of the traced queries probe, checked against their oracles
  val ProbeQueries = Seq("q190_bpe_train", "q52_minhash_lsh", "q188_bpe_tokenize")

  def main(args: Array[String]): Unit = {
    val Array(workload, run, seconds, trace, exec) = args
    new Bench(workload, run, seconds.toDouble, trace == "1", exec).run()
  }
}

final class Bench(workload: String, run: String, seconds: Double, traced: Boolean, exec: String) {
  import Main._

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private val outputs = mutable.ArrayBuffer.empty[Map[String, String]]

  private def add(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]], k: String, v: Double): Unit =
    m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  // off while warming up
  private var recording = true
  private def sample(k: String, v: Double): Unit = if (recording) add(samples, k, v)
  private def layerValue(k: String, v: Double): Unit = if (traced) add(layer, k, v)

  private def now: Double = System.nanoTime / 1e9

  private def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
  private def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  /** Time one operation as a top-level span; a thrown error is a failure. */
  private def op[T](name: String, layerName: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = now
    try {
      val r = Trace.span(name, layerName)(body)
      Some((r, now - t0))
    } catch {
      case e: Throwable =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  private val tables = Seq("documents", "embeddings", "events")
  private def corpus = s"$run/corpus"

  // ------------------------------------------------------------- set-up

  private var spark: SparkSession = _
  private var data: String = _

  private def setup(i: Int): Unit = {
    data = s"$run/data-$i"
    // a fresh copy per set-up: the engine caches per data dir
    Files.createDirectories(Paths.get(data))
    tables.foreach(t =>
      Files.copy(Paths.get(s"$run/tables/$t.parquet"), Paths.get(s"$data/$t.parquet")))
    val t0 = now
    spark = Trace.span("Engine.session", "Engine")(Engine.session("perfbench"))
    val t1 = now
    if (traced) {
      Trace.attach(spark.sparkContext)
      spark.streams.addListener(Trace.Progress)
    }
    Trace.span("Engine.warm_scan", "Engine") {
      tables.foreach(t => Engine.table(spark, data, t).count(): Unit)
      spark.read.textFile(corpus).count(): Unit
    }
    val t2 = now
    sample("setup_s", t2 - t0)
    layerValue("Engine.session_s", t1 - t0)
    layerValue("Engine.warm_scan_s", t2 - t1)
  }

  def run(): Unit = {
    Trace.enabled = traced
    for (i <- 0 until Setups) {
      setup(i)
      if (i < Setups - 1) spark.stop()
    }
    workload match {
      case "wc_jobs"   => measure(wcPass)
      case "grep_jobs" => measure(grepPass)
      case w           => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (traced) {
      Trace.enabled = true
      queriesProbe()
      new Probes(spark, run, layerValue).all(corpus, exec)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      accounting()
      Trace.writeJsonl(s"$run/spans.jsonl")
    }
    sample("peak_rss_mb", peakRssMb())
    writeResult()
    spark.stop()
  }

  /** Warm up untimed for half of `seconds` (at least one pass: the JIT is
    * still compiling the engine's hot paths through the first passes), then
    * run passes while the next one is expected to end within `seconds` (at
    * least two). In the traced run every other pass runs with tracing off,
    * so the tracing overhead is the difference of the two medians. */
  private def measure(pass: Int => Unit): Unit = {
    recording = false
    Trace.enabled = false
    val warm = now
    var w = 0
    while (w == 0 || now - warm < seconds / 2) {
      w += 1
      pass(-w)
    }
    recording = true
    val start = now
    val walls = mutable.ArrayBuffer.empty[Double]
    while (walls.size < 2 || now - start + walls.sorted.apply(walls.size / 2) <= seconds) {
      if (traced) Trace.enabled = walls.size % 2 == 0
      val t0 = now
      pass(walls.size)
      walls += now - t0
      if (!traced) sample("pass_s", walls.last)
      else sample(if (Trace.enabled) "pass_traced_s" else "pass_untraced_s", walls.last)
    }
    Trace.enabled = traced
  }

  private def releaseScratch(): Unit = {
    val t0 = now
    Trace.span("Engine.releaseScratch", "Engine")(Engine.releaseScratch(spark))
    layerValue("Engine.release_scratch_s", now - t0)
  }

  // ------------------------------------------------------ MapReduce jobs

  private lazy val expectedWc: Map[String, Long] =
    Files.readAllLines(Paths.get(s"$run/expected_wc.tsv"), UTF_8).asScala.map { l =>
      val i = l.lastIndexOf('\t')
      l.substring(0, i) -> l.substring(i + 1).toLong
    }.toMap
  private lazy val expectedGrep: Seq[String] =
    Files.readAllLines(Paths.get(s"$run/expected_grep.txt"), UTF_8).asScala.toSeq

  private def spec(out: String, mapper: String, reducer: String) =
    JobSpec(corpus, out, mapper, reducer, numMappers = 8, numReducers = 4)

  private def readLines(files: Seq[File]): Seq[String] =
    files.flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)

  /** The external-executable job, then its native twin; both are checked
    * against the generator's oracle, so they also agree with each other. */
  private def jobPair(p: Int, name: String, external: String => Seq[File], native: => DataFrame)(
      checkExternal: Seq[String] => Boolean)(
      checkNative: Array[org.apache.spark.sql.Row] => Boolean): Unit = {
    val out = s"$run/out/$name-$p"
    op(s"mr.run $name", "mr")(external(out)).foreach { case (files, s) =>
      sample("job_s", s)
      check(checkExternal(readLines(files)), s"$name job $p: output differs from the oracle")
    }
    releaseScratch()
    op(s"native $name", "mr") {
      val df = native
      planStats(df)
      df.collect()
    }.foreach { case (rows, s) =>
      sample("native_s", s)
      check(checkNative(rows), s"native $name $p: output differs from the oracle")
    }
    releaseScratch()
    Engine.deleteRecursively(new File(out))
  }

  private def wcPass(p: Int): Unit =
    jobPair(p, "wc",
      out => MapReduceJob.run(spark, spec(out, s"sh '$exec/wc_map.sh'", s"sh '$exec/wc_reduce.sh'")),
      NativeTextJobs.wordCount(spark, corpus)) { lines =>
      val got = lines.map { l =>
        val i = l.indexOf('\t')
        l.substring(0, i) -> l.substring(i + 1).toLong
      }
      got.size == expectedWc.size && got.toMap == expectedWc
    } { rows =>
      rows.length == expectedWc.size &&
        rows.map(r => r.getString(0) -> r.getLong(1)).toMap == expectedWc
    }

  private def grepPass(p: Int): Unit =
    jobPair(p, "grep",
      out => MapReduceJob.run(spark,
        spec(out, s"python3 '$exec/grep_map.py'", s"python3 '$exec/grep_reduce.py'")),
      NativeTextJobs.grep(spark, corpus)) { lines =>
      lines.sorted == expectedGrep
    } { rows =>
      rows.map(_.getString(0)).toSeq == expectedGrep
    }

  // ------------------------------------------------------ traced probes

  /** Registry queries on the generated tables, each output written for the
    * DuckDB oracle check in run.py. */
  private def queriesProbe(): Unit = {
    val registry = graft.SparkEntry.queries
    for (q <- ProbeQueries) {
      val path = s"$run/out/probe/$q"
      op(q, "queries") {
        val df = registry(q)(spark, data)
        planStats(df, Some(q))
        df.write.parquet(path)
      }.foreach { case (_, s) =>
        layerValue(s"queries.$q.s", s)
        outputs += Map("query" -> q, "path" -> path)
      }
      releaseScratch()
    }
  }

  /** Build time and exchange count of a DataFrame's executed plan. */
  private def planStats(df: DataFrame, query: Option[String] = None): Unit =
    if (traced && Trace.enabled) {
      val t0 = now
      val plan = Trace.span("plans.executedPlan", "plans")(df.queryExecution.executedPlan)
      val exchanges = "(Exchange|BroadcastExchange) ".r.findAllIn(plan.toString).size.toDouble
      layerValue(query.fold("plans.plan_s")(q => s"queries.$q.plan_s"), now - t0)
      layerValue(query.fold("plans.exchanges")(q => s"queries.$q.exchanges"), exchanges)
    }

  private def accounting(): Unit = {
    def put(prefix: String, c: Trace.Cost): Unit = {
      layerValue(s"$prefix.jobs", c.jobs)
      layerValue(s"$prefix.job_s", c.jobSeconds)
      layerValue(s"$prefix.gap_s", c.gapSeconds)
      layerValue(s"$prefix.shuffle_write_bytes", c.shuffleWrite.toDouble)
      layerValue(s"$prefix.spill_bytes", c.spill.toDouble)
      layerValue(s"$prefix.task_failures", c.failures)
    }
    val name = if (workload == "wc_jobs") "wc" else "grep"
    Trace.tracesOf(s"mr.run $name").foreach(s => put("op", Trace.cost(s)))
    Trace.tracesOf(s"native $name").foreach(s => put("native", Trace.cost(s)))
    ProbeQueries.foreach(q => Trace.tracesOf(q).foreach(s => put(s"queries.$q", Trace.cost(s))))
    Trace.selfSecondsByLayer.foreach { case (l, v) => layerValue(s"self.$l.s", v) }
    layerValue("trace.spans", Trace.spans.size)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def writeResult(): Unit = {
    val m = Map(
      "samples" -> samples.map { case (k, v) => k -> v.toSeq },
      "layer" -> layer.map { case (k, v) => k -> v.toSeq },
      "attempted" -> attempted,
      "failed" -> failed,
      "errors" -> errors.toSeq,
      "outputs" -> outputs.toSeq,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (q, _) => ProbeQueries.contains(q) })
    Files.write(Paths.get(s"$run/result.json"), Json.render(m).getBytes(UTF_8)): Unit
  }
}
