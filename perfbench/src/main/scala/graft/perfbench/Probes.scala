package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Engine
import graft.mr.{JobSpec, MapReduceJob, NativeTextJobs, Pipes}
import graft.operators.{Generations, TieredIndex}

/** Layer probes of the traced run. Each calls one module's public functions
  * on seeded inputs of the run dir and reports per-layer metrics through
  * `put`. They run in every traced run, whatever the workload, so each
  * traced run reports every layer.
  */
final class Probes(spark: SparkSession, run: String, put: (String, Double) => Unit) {
  private def now: Double = System.nanoTime / 1e9
  private def timed[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, now - t0)
  }
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  private val Reps = 3

  def all(corpus: String, exec: String): Unit = {
    functions()
    operators()
    streaming()
    mr(corpus, exec)
  }

  // ---------------------------------------------------------- functions

  /** Kernel throughput: rows of a cached input through one projection,
    * median of [[Reps]] runs. */
  private def throughput(name: String, unit: String, rows: Long,
      input: org.apache.spark.sql.DataFrame, kernel: String): Unit = {
    val in = input.cache()
    in.count(): Unit
    val secs = (0 until Reps).map { _ =>
      timed(Trace.span(s"functions.$name", "functions")(
        in.selectExpr(s"sum(hash($kernel)) AS h").collect()))._2
    }
    put(s"functions.$name.${unit}_per_s", rows / median(secs))
    in.unpersist(blocking = true): Unit
  }

  private def functions(): Unit = {
    val n = 5000L
    throughput("minhashSig", "rows", n,
      spark.range(n).selectExpr(
        "transform(sequence(0, 31), i -> cast((id * 31 + i * 7) % 5000 AS string)) AS sg"),
      "graft_minhash_sig(sg, 32)")
    val words = 100000L
    throughput("BpeEncode", "words", words,
      spark.range(words).selectExpr(
        "element_at(array('spark', 'window', 'merge', 'table', 'column', 'vector', " +
          "'stream', 'value', 'customer', 'query'), cast(id % 10 + 1 AS int)) || " +
          "cast(id % 97 AS string) AS w"),
      s"graft_bpe_encode(w, ${graft.queries.Bpe.mergesSql})")
    val vecs = 200000L
    throughput("graft_dot", "rows", vecs,
      spark.range(vecs).selectExpr(
        "transform(sequence(0, 63), i -> cast(id % 13 + i AS double) / 64) AS a",
        "transform(sequence(0, 63), i -> cast(i % 7 AS double) / 8) AS b"),
      "graft_dot(a, b)")
  }

  // ---------------------------------------------------------- operators

  /** A benchmark-owned TieredIndex fed postings-shaped batches from the
    * generated documents: create a base, then per batch append, delete a
    * slice of earlier keys, maintain and read; plus generation commits. */
  private def operators(): Unit = {
    val R = graft.queries.RetrievalOps
    val dir = s"$run/probe/tiered"
    val docs = Engine.table(spark, s"$run/tables", "documents")
    val cluster = Seq(col("word"), col("doc_id"))
    val base = R.postingsOf(docs.filter(col("doc_id") % 5 =!= 0)).localCheckpoint()
    TieredIndex.create(spark, dir, base, 2, cluster)
    var userBytes = 0L
    var rewritten = 0L
    def dirBytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L) else f.length
    for (b <- 0 until 4) {
      val batch = R.postingsOf(docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 4 === b))
        .localCheckpoint()
      val before = TieredIndex.currentFiles(dir).map(_.getName).toSet
      val (_, a) = timed(Trace.span("operators.TieredIndex.append", "operators")(
        TieredIndex.append(spark, dir, batch, batchId = b.toLong)))
      put("operators.TieredIndex.append_s", a)
      userBytes += TieredIndex.currentFiles(dir).filterNot(f => before(f.getName)).map(dirBytes).sum
      val keys = docs.filter(col("doc_id") % 97 === b).select(col("doc_id")).localCheckpoint()
      val (_, d) = timed(Trace.span("operators.TieredIndex.delete", "operators")(
        TieredIndex.delete(spark, dir, keys, batchId = b.toLong)))
      put("operators.TieredIndex.delete_s", d)
      val (m, ms) = timed(Trace.span("operators.TieredIndex.maintain", "operators")(
        TieredIndex.maintain(spark, dir, cluster)))
      put("operators.TieredIndex.maintain_s", ms)
      rewritten += m.bytesIn
      val (_, r) = timed(Trace.span("operators.TieredIndex.read", "operators")(
        TieredIndex.read(spark, dir).agg(sum(col("tf"))).collect()))
      put("operators.TieredIndex.read_s", r)
    }
    put("operators.TieredIndex.segments", TieredIndex.currentSegments(dir).size.toDouble)
    // write amplification: every byte a compaction read is rewritten once
    put("operators.TieredIndex.bytes_written_per_user_byte",
      (userBytes + rewritten).toDouble / math.max(1L, userBytes))

    val root = s"$run/probe/generations"
    for (g <- 1 to 8) {
      val gen = f"gen-$g%05d"
      Files.createDirectories(Paths.get(root, gen))
      Files.write(Paths.get(root, gen, "artifact"), Array.fill[Byte](1024)(g.toByte)): Unit
      val (_, c) = timed(Trace.span("operators.Generations.commit", "operators")(
        Generations.commit(root, gen, mark = g.toLong)))
      put("operators.Generations.commit_s", c)
      val (live, r) = timed(Trace.span("operators.Generations.resolve", "operators")(
        Generations.resolve(root)))
      put("operators.Generations.resolve_s", r)
      require(live.endsWith(gen), s"Generations resolved $live after committing $gen")
    }
    Engine.releaseScratch(spark)
  }

  // ---------------------------------------------------------- streaming

  /** The events table as a file stream through the hourly windowed count,
    * once per repetition (one micro-batch each), with phase timings from
    * the streaming progress events. */
  private def streaming(): Unit = {
    val S = graft.streaming.EventStreaming
    val first = Trace.progress.synchronized(Trace.progress.size)
    Trace.span("streaming.hourlyCounts", "streaming") {
      for (i <- 0 until Reps) {
        val name = s"perfbench_stream_$i"
        val q = S.hourlyCounts(S.eventsStream(spark, s"$run/tables"))
          .writeStream
          .format("memory")
          .queryName(name)
          .outputMode("complete")
          .option("checkpointLocation", s"$run/probe/stream-ckpt-$i")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        require(spark.table(name).count() > 0, "streaming probe produced no rows")
        spark.catalog.dropTempView(name): Unit
      }
    }
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val ps = Trace.progress.synchronized(Trace.progress.drop(first).toSeq)
    def phase(keys: String*): Seq[Double] =
      ps.map(p => keys.map(k => Option(p.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3)
    phase("triggerExecution").foreach(put("streaming.trigger_s", _))
    phase("addBatch").foreach(put("streaming.add_batch_s", _))
    phase("queryPlanning").foreach(put("streaming.planning_s", _))
    phase("walCommit", "commitOffsets").foreach(put("streaming.commit_s", _))
    put("streaming.batches", ps.size.toDouble)
    val top = Trace.tracesOf("streaming.hourlyCounts").last
    put("streaming.jobs_per_batch", Trace.cost(top).jobs.toDouble / math.max(1, ps.size))
  }

  // ----------------------------------------------------------------- mr

  /** One pass over the mr module's entry points on the run's corpus. */
  private def mr(corpus: String, exec: String): Unit = {
    val files = new File(corpus).listFiles.filter(_.isFile).map(_.getPath).sorted
    val mapper = s"sh '$exec/wc_map.sh'"
    files.foreach { f =>
      val (n, s) = timed(Trace.span("mr.pipeFile", "mr")(Pipes.pipeFile(mapper, f).size))
      put("mr.pipeFile.s", s)
      put("mr.pipeFile.records", n.toDouble)
    }
    val spec = JobSpec(corpus, s"$run/probe/mr-out", mapper, s"sh '$exec/wc_reduce.sh'",
      numMappers = 8, numReducers = 4)
    Trace.span("mr.run probe", "mr")(MapReduceJob.run(spark, spec)): Unit
    val (_, g) = timed(Trace.span("mr.mapAndGroup", "mr")(
      MapReduceJob.mapAndGroup(spark, spec, s"$run/probe/mr-group")))
    put("mr.mapAndGroup.s", g)
    Trace.span("mr.wordCount probe", "mr")(NativeTextJobs.wordCount(spark, corpus).collect()): Unit
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val run1 = Trace.cost(Trace.tracesOf("mr.run probe").last)
    put("mr.run.map_stage_s", run1.mapStageS)
    put("mr.run.reduce_stage_s", run1.resultStageS)
    put("mr.run.sink_s", run1.tailS)
    put("mr.run.shuffle_write_bytes", run1.shuffleWrite.toDouble)
    put("mr.run.spill_bytes", run1.spill.toDouble)
    put("mr.run.task_failures", run1.failures.toDouble)
    val wc = Trace.cost(Trace.tracesOf("mr.wordCount probe").last)
    put("mr.wordCount.jobs", wc.jobs.toDouble)
    put("mr.wordCount.tasks", wc.tasks.toDouble)
    put("mr.wordCount.shuffle_write_bytes", wc.shuffleWrite.toDouble)
    Engine.releaseScratch(spark)
  }
}
