package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** foreachBatch — the production sink escape hatch: each micro-batch
  * arrives as a batch DataFrame with a monotonic batchId, so a stream
  * can feed any batch writer (JDBC upsert, MERGE INTO, multi-sink
  * fan-out). Here every micro-batch appends its per-type counts tagged
  * with the batchId to a parquet sink; exactly-once for the sink is the
  * writer's job (idempotent by batchId), which is why the batchId is
  * part of the contract.
  */
class ForeachBatchSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val spark = graft.Engine.session("test")

  test("foreachBatch sink sees every event exactly once across micro-batches") {
    val out = Files.createTempDirectory("graft-feb-").toString + "/sink"
    val stream = EventStreaming
      .eventsStream(spark, dir)
      .select(col("event_id"), col("event_type"))
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("batch_id", lit(batchId))
          .write
          .mode("append")
          .parquet(out)
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()

    val sunk = spark.read.parquet(out)
    val totalSunk = sunk.agg(sum(col("n"))).head().getLong(0)
    val expected = graft.Engine.table(spark, dir, "events").count()
    assert(totalSunk == expected)
    // per-type totals across batches match the batch query
    val perType = sunk.groupBy(col("event_type")).agg(sum(col("n")).as("n"))
    val direct = graft.Engine
      .table(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(perType.except(direct).count() == 0 && direct.except(perType).count() == 0)
  }
}
