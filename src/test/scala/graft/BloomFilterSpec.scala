package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bloom-filter join pruning — the 100 TB pattern for a selective join:
  * build a bloom filter over the small side's keys (one pass, bounded
  * memory, mergeable across partitions), broadcast it, and drop
  * non-matching probe rows AT THE SCAN before the shuffle. The filter
  * never has false negatives, so the subsequent real join sees every
  * matching row; false positives only cost wasted shuffle, bounded by
  * the configured fpp. (Catalyst's InjectRuntimeFilter automates this
  * same rewrite for selective broadcast joins.)
  */
class BloomFilterSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.01"
  private lazy val spark = Engine.session("test")

  test("bloom pre-filter keeps every matching row and prunes most others") {
    val highValue = Engine
      .table(spark, dir, "customer")
      .filter(col("c_acctbal") > 9000) // selective small side
    val nKeys = highValue.count()
    val bloom = highValue.stat.bloomFilter("c_custkey", nKeys.max(1), 0.01)

    val orders = Engine.table(spark, dir, "orders")
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightMatch = udf((k: Long) => bloomB.value.mightContain(k))
    val pruned = orders.filter(mightMatch(col("o_custkey")))

    // no false negatives: the pruned set contains the true join input
    val trueMatches = orders
      .join(highValue.select(col("c_custkey")), col("o_custkey") === col("c_custkey"), "left_semi")
    assert(trueMatches.except(pruned.select(trueMatches.columns.toIndexedSeq.map(col): _*)).count() == 0)

    // pruning is effective: survivors are close to the true match count
    val nTrue = trueMatches.count().toDouble
    val nPruned = pruned.count().toDouble
    val nAll = orders.count().toDouble
    assert(nPruned < nAll * 0.5, s"bloom pruned nothing: $nPruned of $nAll")
    assert(nPruned <= nTrue + (nAll - nTrue) * 0.05 + 10, s"fp rate too high: $nPruned vs $nTrue")
  }
}
