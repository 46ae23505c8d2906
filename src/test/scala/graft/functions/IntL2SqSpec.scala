package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd IntL2Sq must agree with the interpreted
  * `aggregate` HOF it replaced in the k-means assign — including the
  * NULL semantics: length mismatch and NULL elements both poison the
  * result to NULL (a null element turns the HOF accumulator NULL), so
  * the native loop must not silently read 0 for null slots.
  */
class IntL2SqSpec extends AnyFunSuite {
  private lazy val spark = graft.Engine.session("test")

  test("native l2sq equals the aggregate-HOF form on the integer-encoded embeddings") {
    val e = graft.Engine
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(
        col("vec_id"),
        expr("transform(cast(embedding as array<double>), " +
          "x -> cast(floor(x * 1000000 + 0.5d) as bigint) + 16777216L)").as("iv")
      )
    val shifted = e.select(col("vec_id"), expr("transform(iv, x -> x + 7L)").as("jv"), col("iv"))
    val diffs = shifted
      .select(
        VectorOps.l2sqLong(col("iv"), col("jv")).as("native"),
        expr("aggregate(sequence(1, size(iv)), 0L, (a, j) -> " +
          "a + (element_at(iv, j) - element_at(jv, j)) * (element_at(iv, j) - element_at(jv, j)))")
          .as("hof")
      )
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0)
  }

  test("graft_l2sq is callable from SQL") {
    val r = spark.sql("SELECT graft_l2sq(array(1L, 2L), array(4L, 6L)) AS d")
    assert(r.head().getLong(0) == 25L)
  }

  test("unequal-length arrays yield NULL") {
    val r = spark.sql("SELECT graft_l2sq(array(1L, 2L), array(1L, 2L, 3L)) AS d").head()
    assert(r.isNullAt(0))
  }

  test("a NULL element yields NULL, matching the aggregate-HOF semantics") {
    // the HOF: a + (null - y)^2 = null, and the accumulator stays null —
    // the native expression must not read the null slot as 0/garbage
    val r = spark
      .sql("""SELECT graft_l2sq(array(1L, CAST(NULL AS BIGINT), 3L), array(1L, 2L, 3L)) AS native,
                     aggregate(sequence(1, 3), 0L, (a, j) ->
                       a + (element_at(array(1L, CAST(NULL AS BIGINT), 3L), j)
                          - element_at(array(1L, 2L, 3L), j))
                         * (element_at(array(1L, CAST(NULL AS BIGINT), 3L), j)
                          - element_at(array(1L, 2L, 3L), j))) AS hof""")
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
