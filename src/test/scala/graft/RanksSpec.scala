package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ranks.distributedRank / distributedPrefixSum — now the single
  * implementation behind every quota/selection/packing operator — must
  * equal the naive global-window forms exactly, on adversarial shapes:
  * skewed strata, strata spanning many partitions, descending order
  * keys, single-row strata, and more partitions than rows.
  */
class RanksSpec extends AnyFunSuite {
  private lazy val spark = Engine.session("test")

  private def mkDf(n: Int) = {
    import spark.implicits._
    // skew: stratum 'a' holds half the rows; 7 strata total
    (1 to n)
      .map(i => (i.toLong, if (i % 2 == 0) "a" else s"s${i % 7}", (i * 37 % 101).toLong))
      .toDF("id", "st", "v")
  }

  test("distributedRank equals the global window rank, skewed strata, asc and desc") {
    val df = mkDf(5000)
    for (order <- Seq(Seq(col("v"), col("id")), Seq(col("v").desc, col("id")))) {
      val got = operators.Ranks
        .distributedRank(df, Seq("st"), order, partitions = 8)
        .select(col("id"), col("rnk"), col("n"))
      val w = Window.partitionBy(col("st")).orderBy(order: _*)
      val want = df
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("st"))))
        .select(col("id"), col("rnk"), col("n"))
      assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    }
  }

  test("distributedRank with NO strata equals the global row_number") {
    val df = mkDf(1000)
    val got = operators.Ranks
      .distributedRank(df, Nil, Seq(col("v"), col("id")), partitions = 8)
      .select(col("id"), col("rnk"))
    val want = df
      .withColumn("rnk", row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .select(col("id"), col("rnk"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("more partitions than rows still ranks correctly") {
    val df = mkDf(5)
    val got = operators.Ranks
      .distributedRank(df, Seq("st"), Seq(col("id")), partitions = 32)
      .agg(sum(col("rnk"))).head().getLong(0)
    // each stratum's ranks are 1..k; total = sum over strata of k*(k+1)/2
    val expected = mkDf(5)
      .groupBy("st").count().collect()
      .map(r => { val k = r.getLong(1); k * (k + 1) / 2 }).sum
    assert(got == expected)
  }

  test("distributedPrefixSum equals the global running sum, both frames") {
    val df = mkDf(3000)
    for (inclusive <- Seq(true, false)) {
      val got = operators.Ranks
        .distributedPrefixSum(df, Seq(col("v").desc, col("id")), col("v"), inclusive, partitions = 8)
        .select(col("id"), col("psum"))
      val end = if (inclusive) Window.currentRow else -1L
      val w = Window
        .orderBy(col("v").desc, col("id"))
        .rowsBetween(Window.unboundedPreceding, end)
      val want = df
        .withColumn("psum", coalesce(sum(col("v")).over(w), lit(0L)))
        .select(col("id"), col("psum"))
      assert(got.except(want).count() == 0 && want.except(got).count() == 0, s"inclusive=$inclusive")
    }
  }

  test("reserved output names fail fast") {
    val df = mkDf(10).withColumn("rnk", lit(1L))
    val e = intercept[IllegalArgumentException] {
      operators.Ranks.distributedRank(df, Seq("st"), Seq(col("id")))
    }
    assert(e.getMessage.contains("reserves"))
    val df2 = mkDf(10).withColumn("psum", lit(1L))
    val e2 = intercept[IllegalArgumentException] {
      operators.Ranks.distributedPrefixSum(df2, Seq(col("id")), col("v"), inclusive = true)
    }
    assert(e2.getMessage.contains("reserves"))
  }
}
