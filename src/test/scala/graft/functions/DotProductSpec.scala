package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd DotProduct must agree bit-for-bit with the
  * composable higher-order-function form (same sequential summation),
  * and be callable from SQL via the injected graft_dot function.
  */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = graft.Engine.session("test")

  test("native dot equals HOF dot bit-for-bit on the embeddings table") {
    val e = graft.Engine
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val diffs = e
      .select(
        VectorOps.dot(col("e"), col("e")).as("native"),
        VectorOps.dotHof(col("e"), col("e")).as("hof")
      )
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0)
  }

  test("graft_dot is callable from SQL") {
    val r = spark.sql("SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
    assert(r.head().getDouble(0) == 32.0)
  }

  test("unequal-length arrays yield NULL, agreeing with the HOF form") {
    // zip_with pads the shorter array with null, so the HOF sum is null;
    // the native expression must give the same answer instead of
    // silently truncating.
    val r = spark
      .sql("""SELECT graft_dot(array(1.0d, 2.0d), array(1.0d, 2.0d, 3.0d)) AS native,
                     aggregate(zip_with(array(1.0d, 2.0d), array(1.0d, 2.0d, 3.0d),
                               (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS hof""")
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("RewriteSelfDot: deterministic self-dot optimizes to graft_norm2, values bit-identical") {
    val e = graft.Engine
      .table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = e.select(VectorOps.norm2(col("e")).as("n2"), VectorOps.dotHof(col("e"), col("e")).as("hof"))
    // the optimizer must collapse dot(e, e) to the single-read norm
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_norm2"),
      q.queryExecution.optimizedPlan.toString.take(800))
    assert(q.filter(col("n2") =!= col("hof")).count() == 0)
  }

  test("RewriteSelfDot: column-level self-dot over a non-deterministic source still rewrites safely") {
    // the analyzer hoists non-deterministic expressions into their own
    // projection, so dot(r, r) over a shuffle-valued COLUMN sees one
    // attribute evaluated once — the rewrite is safe and must fire
    val q = spark
      .range(1)
      .select(expr("shuffle(array(1.0d, 2.0d, 3.0d))").as("r"))
      .select(VectorOps.dot(col("r"), col("r")).as("d"))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_norm2"), opt.take(800))
    assert(q.head().getDouble(0) == 14.0) // order-invariant: 1+4+9
  }

  test("RewriteSelfDot leaves INLINE non-deterministic self-dots alone") {
    // two inline shuffle(...) calls are distinct non-deterministic
    // expressions (separate seeds) — the determinism/fastEquals guard
    // must keep graft_dot, since each side is its own evaluation
    val q = spark
      .range(1)
      .select(
        VectorOps
          .dot(
            expr("shuffle(array(1.0d, 2.0d, 3.0d))"),
            expr("shuffle(array(1.0d, 2.0d, 3.0d))")
          )
          .as("d")
      )
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_dot") && !opt.contains("graft_norm2"), opt.take(800))
  }

  test("graft_norm2 is callable from SQL") {
    val r = spark.sql("SELECT graft_norm2(array(3.0d, 4.0d)) AS n")
    assert(r.head().getDouble(0) == 25.0)
  }

  test("dot product matches scala computation on seeded random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(50) {
      val n = 1 + rnd.nextInt(128)
      (List.fill(n)(rnd.nextGaussian()), List.fill(n)(rnd.nextGaussian()))
    }
    val got = cases
      .toDF("a", "b")
      .select(VectorOps.dot(col("a"), col("b")).as("d"))
      .collect()
      .map(_.getDouble(0))
    val expected = cases.map { case (xs, ys) =>
      xs.zip(ys).foldLeft(0.0) { case (s, (a, b)) => s + a * b }
    }
    got.zip(expected).foreach { case (g, e) => assert(g == e) }
  }
}
