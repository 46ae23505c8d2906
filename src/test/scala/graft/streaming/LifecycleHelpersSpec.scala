package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lifecycle building blocks with a contract of their own: the
  * concurrent index legs, the micro-batch staging, and the micro-batch
  * driver every file-stream lifecycle runs on.
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

  test("microBatches runs staged slice k as batch id k, in order, and resumes from its checkpoint") {
    val work = Files.createTempDirectory("graft-driver-").toString
    val df = spark.range(0, 40).toDF("doc_id")
    val slice = col("doc_id") % 4
    def rows(k: Int): Set[Long] = (0L until 40L).filter(_ % 4 == k).toSet
    // one call of the driver on the ONE checkpoint dir: (batch id, rows) per body run
    def drive(incoming: String): Seq[(Long, Set[Long])] = {
      val seen = new ConcurrentLinkedQueue[(Long, Set[Long])]()
      StreamOps.microBatches(spark, incoming, s"$work/ckpt") { (_, batch, bid) =>
        seen.add(bid -> batch.collect().map(_.getLong(0)).toSet): Unit
      }
      seen.asScala.toSeq
    }
    val incoming = StreamOps.stageBatchSlices(df, work, slice, 0 to 2)
    assert(drive(incoming) == (0 to 2).map(k => (k.toLong, rows(k))))
    // a restart after a fourth slice lands: only id 3 runs
    StreamOps.stageBatchSlices(df, work, slice, Seq(3))
    assert(drive(incoming) == Seq((3L, rows(3))))
    graft.Engine.deleteRecursively(new java.io.File(work))
  }
}
