package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage
import org.scalatest.funsuite.AnyFunSuite

/** The per-query runner of Bench and Verify: job counts, the driver gap
  * over overlapping jobs, errors, the log window and the
  * SPARK_GRAFT_ONLY selection.
  */
class QueryRunnerSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = Engine.session("test")

  private def withRunner[T](f: (QueryRunner, java.nio.file.Path) => T): T = {
    val path = java.nio.file.Files.createTempFile("graft-records", ".jsonl")
    val runner = new QueryRunner(spark, path.toString)
    try f(runner, path)
    finally {
      runner.close()
      java.nio.file.Files.delete(path)
    }
  }

  test("a frame with three actions records exactly three jobs") {
    withRunner { (runner, path) =>
      val df = spark.range(0, 100, 1, 2).toDF("x")
      val r = runner.run("three_actions") {
        df.collect(): Unit
        df.collect(): Unit
        df.foreach(_ => ())
      }
      assert(r.jobs == 3, r)
      assert(r.error.isEmpty)
      assert(r.jobS > 0 && r.jobS <= r.wallS + 1e-3)
      val lines = java.nio.file.Files.readAllLines(path)
      assert(lines.size == 1)
      Seq("\"name\":\"three_actions\"", "\"jobs\":3", "\"wall_s\":", "\"job_s\":", "\"gap_s\":",
        "\"shuffle_write_bytes\":", "\"spill_bytes\":", "\"input_bytes\":", "\"error\":null",
        "\"warn_lines\":", "\"error_lines\":", "\"logs\":")
        .foreach(k => assert(lines.get(0).contains(k), k))
    }
  }

  test("two overlapped jobs: gap is wall minus the union of job intervals, never negative") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    withRunner { (runner, _) =>
      // two one-task jobs from two threads, as legsInParallel runs a batch's legs
      def slowJob(): Unit = spark.range(0, 1, 1, 1).foreach(_ => Thread.sleep(1500))
      val r = runner.run("overlapped") {
        Await.result(Future.sequence(Seq(Future(slowJob()), Future(slowJob()))), 60.seconds): Unit
      }
      assert(r.jobs == 2, r)
      val spans = r.jobSpansMs.sortBy(_._1)
      // the two intervals overlap, so their union is the first start to the last end
      assert(spans(1)._1 < spans(0)._2, spans)
      val union = (spans.map(_._2).max - spans(0)._1) / 1e3
      assert(math.abs(r.jobS - union) < 0.05, (r.jobS, union))
      assert(math.abs(r.gapS - (r.wallS - r.jobS)) < 1e-9)
      assert(r.gapS >= 0.0)
      // a gap of wall minus the SUM of job durations goes negative on the same events
      val sum = spans.map { case (a, b) => b - a }.sum / 1e3
      assert(math.abs(r.jobSumS - sum) < 1e-9)
      assert(r.wallS - sum < 0.0, (r.wallS, sum))
    }
  }

  test("a query that throws records its message and the next query still runs") {
    withRunner { (runner, path) =>
      val bad = runner.run("throws")(throw new IllegalStateException("boom in query"))
      assert(bad.error.contains("boom in query"))
      val good = runner.run("q01_pricing_summary")(
        SparkEntry.queries("q01_pricing_summary")(spark, dir).count(): Unit)
      assert(good.error.isEmpty)
      assert(good.jobs >= 1)
      assert(good.inputBytes > 0)
      val lines = java.nio.file.Files.readAllLines(path)
      assert(lines.size == 2)
      assert(lines.get(0).contains("\"error\":\"boom in query\""))
    }
  }

  test("a WARN inside a query's window is counted; one logged before it is not") {
    val log = LogManager.getLogger("graft.QueryRunnerSpec.window")
    withRunner { (runner, _) =>
      log.warn("logged before the window")
      val r = runner.run("warns")(log.warn("logged inside the window 123, size 2.1 MiB"))
      assert(r.logs("WARN graft.QueryRunnerSpec.window") ==
        Map("logged inside the window #, size 2.1 MiB" -> 1))
      assert(r.warnLines >= 1)
      log.warn("logged after the window")
      assert(runner.run("quiet")(()).logs.get("WARN graft.QueryRunnerSpec.window").isEmpty)
    }
  }

  test("a log line's template keeps its exception's message and masks integer ids") {
    val e = Log4jLogEvent.newBuilder()
      .setLoggerName("x").setLevel(Level.ERROR)
      .setMessage(new SimpleMessage("Failed to update accumulator 812 (Unknown class) for task 0"))
      .setThrown(new IllegalStateException("attempted to access non-existent accumulator 812\nat ..."))
      .build()
    assert(QueryRunner.template(e) == "Failed to update accumulator # (Unknown class) for task # " +
      "[IllegalStateException: attempted to access non-existent accumulator #]")
  }

  test("SPARK_GRAFT_ONLY: none selects nothing, q1 selects every name starting with q1") {
    val all = SparkEntry.queries.keySet
    assert(QueryRunner.selected(None).map(_._1).toSet == all)
    assert(QueryRunner.selected(Some("none")).isEmpty)
    val q1 = QueryRunner.selected(Some("q1")).map(_._1).toSet
    assert(q1.nonEmpty && q1 == all.filter(_.startsWith("q1")))
    assert(q1.exists(_.startsWith("q10")) && q1.exists(_.startsWith("q199")))
    assert(QueryRunner.selected(Some(" q01 , q02,")).map(_._1).toSet ==
      all.filter(n => n.startsWith("q01") || n.startsWith("q02")))
  }
}
