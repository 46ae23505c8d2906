package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library façade's round-8 additions are thin delegations — this
  * smoke-pins that each is callable through `Graft` and produces the
  * documented shape (the underlying machinery has its own deep specs:
  * RanksSpec, BloomDecontamSpec, GramHashSpec, StreamIncrementalSpec).
  */
class FacadeSpec extends AnyFunSuite {
  private lazy val spark = Graft.session("test")
  private val dir = "/root/testdata/sf0.001"

  test("distributedRank / distributedPrefixSum reachable through the façade") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"s${i % 3}", i % 10)).toDF("id", "st", "v")
    val r = Graft.distributedRank(df, Seq("st"), Seq(col("id")))
    assert(r.columns.contains("rnk") && r.columns.contains("n"))
    assert(r.filter(col("rnk") > col("n")).count() == 0)
    val p = Graft.distributedPrefixSum(df, Seq(col("id")), col("v"), inclusive = true)
    assert(p.agg(max(col("psum"))).head().getLong(0) == df.agg(sum(col("v"))).head().getLong(0))
  }

  test("bloom probe and band buckets reachable through the façade") {
    val docs = Graft.table(spark, dir, "documents")
    val keys = docs.select(xxhash64(col("doc_id")).as("h"))
    val bloom = keys.stat.bloomFilter("h", 1000, 0.01)
    val bytes = Graft.bloomSerialize(bloom)
    val misses =
      keys.filter(!Graft.bloomMightContain(bytes, col("h"))).count()
    assert(misses == 0) // no false negatives

    val sig = docs
      .select(graft.queries.Tokenize.toksExpr.as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(graft.functions.TextHashOps
        .minhashSig(array_distinct(graft.functions.TextHashOps.gramsText(col("toks"), 3)), 8)
        .as("sig"))
    val b = sig.select(Graft.bandBuckets(col("sig"), 4, 2).as("bk")).head()
    assert(b.getSeq[String](0).length == 4)
  }

  test("ingestGate reachable through the façade with the documented output") {
    val out = Graft.ingestGate(Graft.table(spark, dir, "documents"))
    assert(out.columns.toSeq ==
      Seq("doc_id", "lang", "source", "pii_ppm", "n_words", "logit_micro", "cm"))
    assert(out.count() > 0)
    Graft.releaseScratch(spark)
  }

  test("pqCodebook / pqAssign reachable through the façade with documented shapes") {
    val cb = Graft.pqCodebook(spark, dir)
    assert(cb.columns.toSeq == Seq("m", "cid", "cv"))
    assert(cb.count() == 128) // M=8 x K=16
    val a = Graft.pqAssign(spark, dir, cb)
    assert(a.columns.toSeq == Seq("vec_id", "m", "cid", "d"))
    // every vector gets exactly one cell per subspace
    val n = Graft.table(spark, dir, "embeddings").count()
    assert(a.count() == n * 8)
    Graft.releaseScratch(spark)
  }

  test("ANN serving reachable through the façade: build, microVecs, serve") {
    val root = Graft.buildAnnIndex(spark, dir, k = 16, rounds = 1)
    assert(new java.io.File(root, "COMPLETE").exists, "pointer-committed artifact")
    val iv = Graft.microVecs(Graft.table(spark, dir, "embeddings"))
    val q = iv.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val got = Graft.annServe(spark, root, q, iv, k = 16)
    assert(got.columns.toSeq == Seq("qid", "rn", "vec_id", "d"))
    assert(got.count() == 9, "3 queries x positioned top-3")
    Graft.releaseScratch(spark)
  }

  test("postings / bm25 reachable through the façade with documented shapes") {
    import spark.implicits._
    val post = Graft.postings(Graft.table(spark, dir, "documents"))
    assert(post.columns.toSeq == Seq("doc_id", "word", "tf"))
    val scored = Graft.bm25(post, Seq("hash", "join").toDF("word"))
    assert(scored.columns.toSeq == Seq("doc_id", "score"))
    assert(scored.count() > 0, "somebody matches the query")
    Graft.releaseScratch(spark)
  }

  test("positional postings / phrase reachable through the façade; BM25-compatible") {
    import spark.implicits._
    val docs = Graft.table(spark, dir, "documents")
    val post = Graft.positionalPostings(docs)
    assert(post.columns.toSeq == Seq("doc_id", "word", "tf", "positions"))
    val page = Graft.phrase(post, Seq("table", "hash"))
    assert(page.columns.toSeq == Seq("rk", "doc_id", "n"))
    // the SAME positional frame scores BM25 unchanged (positions
    // project away) — one index, both query classes
    val scored = Graft.bm25(post, Seq("hash", "join").toDF("word"))
    val plain = Graft.bm25(Graft.postings(docs), Seq("hash", "join").toDF("word"))
    assert(scored.exceptAll(plain).isEmpty && plain.exceptAll(scored).isEmpty)
    Graft.releaseScratch(spark)
  }

  test("deeper served pages via candN/topN; generation pointer round-trips") {
    val root = Graft.buildAnnIndex(spark, dir, k = 16, rounds = 1)
    val iv = Graft.microVecs(Graft.table(spark, dir, "embeddings"))
    val q = iv.filter(col("vec_id") < 2).select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val got = Graft.annServe(spark, root, q, iv, k = 16, candN = 32, topN = 10)
    assert(got.count() == 20, "2 queries x positioned top-10")
    val groot = s"${System.getProperty("java.io.tmpdir")}/graft_facade_gens"
    Engine.deleteRecursively(new java.io.File(groot))
    new java.io.File(groot, "gen-00000").mkdirs()
    Graft.commitGeneration(groot, "gen-00000")
    assert(Graft.resolveGeneration(groot).endsWith("gen-00000"))
    Graft.releaseScratch(spark)
  }
}
