package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Concurrent analytics on ONE engine session — the multi-tenant
  * reality of a long-lived deployment (and the concurrent analog of the
  * reference's job queue: Spark schedules simultaneous actions FIFO
  * across shared executors instead of serializing whole jobs). Results
  * must be identical to serial execution; queries that register session
  * state (temp views) are excluded by design — they document their
  * single-writer assumption.
  */
class ConcurrencySpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = Engine.session("test")

  private def assertConcurrentMatchesSerial(names: Seq[String]): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    def run(n: String): Seq[String] =
      SparkEntry.queries(n)(spark, dir).collect().map(_.toString).toSeq
    val serial = names.map(n => n -> run(n)).toMap
    val concurrent = Await
      .result(Future.sequence(names.map(n => Future(n -> run(n)))), 180.seconds)
      .toMap
    names.foreach(n => assert(concurrent(n) == serial(n), s"$n diverged under concurrency"))
  }

  test("six concurrent registry queries on one session match their serial results") {
    assertConcurrentMatchesSerial(Seq(
      "q01_pricing_summary",
      "q04_brand_volume",
      "q11_topk_orders",
      "q30_events_hourly",
      "q50_exact_dedup",
      "q65_token_zipf"
    ))
  }

  test("BPE trainers run beside other queries on one session and leave AQE on") {
    // the trainer holds its state inside one task: no session conf
    // toggle, no checkpoint in the block store
    assertConcurrentMatchesSerial(Seq(
      "q01_pricing_summary",
      "q65_token_zipf",
      "q190_bpe_train",
      "q194_bpe_train_apply",
      "q196_bpe_deep_fertility"
    ))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
