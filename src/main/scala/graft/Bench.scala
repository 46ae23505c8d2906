package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR
  * through [[QueryRunner]] and ends stdout with ONE compact JSON line
  * {"metric":"total",...}.
  *
  * Methodology: an untimed warm-up (`QueryRunner.warmUp`) touches every
  * table and runs every query once (plan analysis + whole-stage-codegen
  * compilation); then the WHOLE query list runs SPARK_GRAFT_PASSES
  * (default 2) timed passes and each query reports its minimum across
  * passes. Interleaving separates a query's samples by the full list
  * duration so a transient external-load window on a shared box cannot
  * capture all of a query's samples at once.
  *
  * Every timed run appends one [[QueryRecord]] (wall, jobs, job seconds,
  * driver gap, shuffle/spill/input bytes, error, WARN/ERROR lines by
  * logger) to `bench_records.jsonl`, next to `bench_queries.json`.
  * `SPARK_GRAFT_PASSES=1` with a `SPARK_GRAFT_ONLY` list is the per-query
  * job profile.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the canonical engine session (extensions registered, AQE, task
    // retry, UTC, nanos handling) — benchmarks must measure the same
    // environment the library ships, and q122 needs the SQL-registered
    // functions
    val spark = Engine.session("bench")
    // The console shows ERROR only, FOR THE BENCH ONLY: the driver keeps
    // only the last ~2000 chars of combined output, and at WARN level
    // the "locally checkpointed RDD" flood from the streaming family
    // buries the summary lines (BENCH_r17's rc=124). The runner's log
    // counter still sees every WARN.
    val runner = new QueryRunner(spark, "bench_records.jsonl", quietConsole = true)
    val ordered = QueryRunner.selected().sortBy(_._1)
    runner.warmUp(sfDir, ordered)

    // PASS-INTERLEAVED timing: run the WHOLE list N times and take each
    // query's minimum ACROSS passes. Back-to-back repeats of one query sit
    // inside the same external-load window on a shared box (BENCH_r03
    // showed q99 at 22.3 s in the driver's run vs 2.5 s isolated);
    // interleaving separates a query's samples by the full list duration.
    // The runner releases scratch after the wall clock stops (checkpoint
    // blocks accumulating across the run was the r2 contamination).
    // Default 2 passes: a full pass is ~900 s at sf0.1, and a minimum
    // over fewer passes can only overstate a query's cost.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").flatMap(_.toIntOption).getOrElse(2)
    // one /proc/loadavg 1-minute sample per pass boundary rides the
    // summary line: load well above the worker count explains a spread
    def loadAvg(): String =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.split(" ")(0)
        finally src.close()
      } catch { case _: Throwable => "-1" }
    val loads = scala.collection.mutable.ArrayBuffer(loadAvg())
    // successful wall seconds per query run so far; a query that has run
    // but never succeeded maps to an empty vector and is an error
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]

    def short(name: String): String = name.takeWhile(_ != '_')
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def spread(ts: Vector[Double]): Double = ts.max / ts.min
    // beyond 8 entries a list collapses to "+N", so the summary line
    // cannot outgrow the driver's retention window at any registry size
    def bounded(xs: Iterable[String]): String = {
      val shown = xs.take(8).map("\"" + _ + "\"")
      val extra = if (xs.size > 8) Seq("\"+" + (xs.size - 8) + "\"") else Nil
      (shown ++ extra).mkString("[", ",", "]")
    }
    // The driver keeps only the LAST ~2000 chars of stdout (r5's single
    // line with every query lost its head and parsed as null), so the
    // per-query map rides an EARLIER line and a file, and this line is
    // compact: the total over the `n` queries run so far (of `selected`),
    // the top-5 slowest as "top5" (NOT "queries", so a consumer expecting
    // the full map fails loudly; "queries_full" avoids the BENCH-QUERIES
    // marker), spread = max/min across passes (> 2x: noisy), and the load
    // samples. A partial total is conservative, never inflated.
    def summary(passesDone: Int): String = {
      val ok = samples.collect { case (k, ts) if ts.nonEmpty => k -> ts }
      val top = ok.toSeq.map { case (k, ts) => (k, ts.min) }.sortBy(-_._2).take(5)
        .map { case (k, v) => "\"" + short(k) + "\":" + fmt(v) }.mkString("{", ",", "}")
      val noisy = bounded(ok.collect { case (k, ts) if spread(ts) > 2.0 => short(k) + " x" + fmt(spread(ts)) })
      val errors = bounded(samples.collect { case (k, ts) if ts.isEmpty => short(k) })
      val loadTrace = loads.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"metric":"total","value":${fmt(ok.values.map(_.min).sum)},"unit":"sec","n":${samples.size},"selected":${ordered.size},"passes_done":$passesDone,"top5":$top,"queries_full":"bench_queries.json (full per-query map; also on the earlier BENCH QUERIES stdout line)","errors":$errors,"noisy":$noisy,"load":$loadTrace,"sf":"$sfDir"}"""
    }

    (1 to passes).foreach { p =>
      ordered.zipWithIndex.foreach { case ((name, fn), i) =>
        val r = runner.run(name, p)(fn(spark, sfDir).count(): Unit)
        samples(name) = samples.getOrElse(name, Vector.empty) ++ (if (r.error.isEmpty) Seq(r.wallS) else Nil)
        val passEnd = i == ordered.size - 1
        if (passEnd) loads += loadAvg()
        // after EVERY query, so a kill at any point leaves a parseable tail
        println(summary(if (passEnd) p else p - 1))
      }
    }
    runner.close()

    val sampled = ordered.map { case (k, _) => k -> samples.getOrElse(k, Vector.empty) }
    sampled.foreach { case (k, ts) =>
      val s = if (ts.nonEmpty) fmt(ts.min) + " s  (spread x" + fmt(spread(ts)) + ")" else "ERROR"
      println(s"BENCH ${k.padTo(32, ' ')} $s")
    }
    val qs = sampled.map { case (k, ts) => "\"" + short(k) + "\":" + (if (ts.nonEmpty) fmt(ts.min) else "-1") }
      .mkString("{", ",", "}")
    val perQuery = s"""{"metric":"per_query","unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(s"BENCH-QUERIES $perQuery")
    // best-effort; the stdout line is canonical
    try Files.write(Paths.get("bench_queries.json"), (perQuery + "\n").getBytes(StandardCharsets.UTF_8)): Unit
    catch { case _: Throwable => () }
    println(summary(passes))
    spark.stop()
  }
}
