package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hybrid lifecycle runner's two building blocks with a failure
  * contract: the concurrent index legs and the micro-batch staging.
  */
class LifecycleHelpersSpec extends AnyFunSuite {
  private lazy val spark = graft.Engine.session("test")

  test("legsInParallel rethrows a leg's failure only after the other leg finishes") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val bDone = new AtomicBoolean(false)
    try {
      val e = intercept[IllegalStateException] {
        StreamOps.legsInParallel(ec) {
          throw new IllegalStateException("leg a failed")
        } {
          Thread.sleep(500)
          bDone.set(true)
        }
      }
      assert(e.getMessage == "leg a failed")
      assert(bDone.get, "legsInParallel returned while leg b was still running")
    } finally ec.shutdown()
  }

  test("stageBatchSlices refuses to restage a slice and leaves the staged files unchanged") {
    val work = Files.createTempDirectory("graft-stage-").toString
    val df = spark.range(0, 40).toDF("doc_id")
    val incoming = StreamOps.stageBatchSlices(df, work, col("doc_id") % 4, Seq(0, 1))
    def listing = new java.io.File(incoming).listFiles
      .map(f => (f.getName, f.length, f.lastModified)).sorted.toSeq
    val before = listing
    assert(before.map(_._1).filter(_.endsWith(".parquet")) ==
      Seq("slice-00000.parquet", "slice-00001.parquet"))
    val e = intercept[IllegalArgumentException] {
      StreamOps.stageBatchSlices(df, work, col("doc_id") % 4, Seq(1, 2))
    }
    assert(e.getMessage.contains("slice-00001.parquet"), e.getMessage)
    assert(e.getMessage.contains("phases must be disjoint"), e.getMessage)
    assert(listing == before)
    assert(!new java.io.File(work, "stage_tmp").exists)
    graft.Engine.deleteRecursively(new java.io.File(work))
  }
}
