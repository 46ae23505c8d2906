package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge application (q188/q189's kernel): hand-computed fixtures
  * plus a property pin against an independent list-walk reference —
  * the wrapped-string replace() chain must implement exactly
  * "per rule in table order, one greedy left-to-right pass".
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = graft.Engine.session("test")

  test("merge application matches hand-computed fixtures") {
    import spark.implicits._
    // hand-traced through the 16-rule table, in order:
    //   thend:   t h e n d -(t,h)-> th e n d -(th,e)-> the n d
    //   wording: w o r d i n g -(i,n)-> w o r d in g -(in,g)->
    //            w o r d ing -(o,r)-> w or d ing
    //   and:     a n d -(a,n)-> an d -(an,d)-> and
    val cases = Seq(
      ("thend", 3L, Seq("the", "n", "d")),
      ("wording", 4L, Seq("w", "or", "d", "ing")),
      ("and", 1L, Seq("and")),
      ("the", 1L, Seq("the")),
      ("a", 1L, Seq("a")),
      ("42", 2L, Seq("4", "2"))
    )
    val got = cases
      .map(_._1)
      .toDF("w")
      .select(
        col("w"),
        expr(s"cast(${Bpe.symCountSpark(Bpe.encodeSpark("w"))} as bigint)").as("n"),
        expr(s"filter(split(${Bpe.encodeSpark("w")}, ' +'), x -> x != '')").as("syms")
      )
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toSeq))
    assert(got.toSeq == cases)
  }

  test("property: SQL replace-chain equals the independent list-walk reference") {
    // reference: symbols as a list; per rule, one greedy left-to-right
    // pass (a merged pair is not reconsidered for the same rule)
    def ref(word: String): Seq[String] = {
      var syms = word.map(_.toString).toList
      for ((a, b) <- Bpe.Merges) {
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toList
      }
      syms
    }
    val rnd = new scala.util.Random(7)
    // biased alphabet so merge rules fire often, incl. repeated pairs
    val alpha = "thethinganandorestcoulraaattthhh0"
    val words = Seq.fill(300)(
      (0 until (1 + rnd.nextInt(12))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    import spark.implicits._
    val got = words
      .toDF("w")
      .select(col("w"), expr(s"filter(split(${Bpe.encodeSpark("w")}, ' +'), x -> x != '')").as("syms"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
    got.foreach { case (w, syms) =>
      assert(syms == ref(w), s"drift on '$w': sql=$syms ref=${ref(w)}")
    }
  }

  test("native encoder == replace-chain on the gated 16-rule table") {
    import spark.implicits._
    // the equality that lets the gated queries run graft_bpe_encode /
    // graft_bpe_doc_tokens while the DuckDB oracles keep the chain
    // spelling: symbol-for-symbol identical output on the same words
    val rnd = new scala.util.Random(11)
    val alpha = "thethinganandorestcoulraaattthhh0"
    val words = Seq.fill(400)(
      (0 until (1 + rnd.nextInt(14))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    val rows = words
      .toDF("w")
      .select(
        col("w"),
        expr(s"graft_bpe_encode(w, ${Bpe.mergesSql})").as("native"),
        expr(s"filter(split(${Bpe.encodeSpark("w")}, ' +'), x -> x != '')").as("chain")
      )
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"drift on '${r.getString(0)}'")
    }
    // and the doc-level form equals the per-word sum
    val docs = words.grouped(20).map(_.toSeq).toSeq
    val dRows = docs
      .toDF("toks")
      .select(
        expr(s"graft_bpe_doc_tokens(toks, ${Bpe.mergesSql})").as("native"),
        expr(Bpe.docTokensChainSpark("toks")).as("chain"))
      .collect()
    dRows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native encoder == list-walk chain on random parts-before-use tables") {
    import spark.implicits._
    // the LEARNED-table path (q194/q195/q196): merge tables arrive as a
    // data column, and every trainMerges output satisfies
    // parts-before-use by construction. Generate random tables with the
    // same invariant (each rule's symbols are single chars or earlier
    // rules' products) and pin native == sequential rule-at-a-time.
    def refChain(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms = word.map(_.toString).toList
      for ((a, b) <- merges) {
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toList
      }
      syms
    }
    val rnd = new scala.util.Random(23)
    val alpha = "abcdeft"
    for (trial <- 0 until 12) {
      // grow a parts-before-use table: candidate symbols = chars +
      // products of already-chosen rules
      var built = Vector.empty[(String, String)]
      var symbols = alpha.map(_.toString).toVector
      for (_ <- 0 until (3 + rnd.nextInt(8))) {
        val a = symbols(rnd.nextInt(symbols.length))
        val b = symbols(rnd.nextInt(symbols.length))
        if (!built.contains((a, b))) {
          built :+= ((a, b))
          symbols :+= (a + b)
        }
      }
      val mergesArr = built.map { case (a, b) => s"$a|$b" }
      val words = Seq.fill(150)(
        (0 until (1 + rnd.nextInt(10))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      val got = words
        .toDF("w")
        .withColumn("ms", typedLit(mergesArr))
        .select(col("w"), expr("graft_bpe_encode(w, ms)").as("syms"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toSeq)
      got.foreach { case (w, syms) =>
        assert(syms == refChain(w, built), s"trial $trial drift on '$w' table=$built")
      }
    }
  }

  test("dual-derivation table: native == chain where lowest-rank-present diverges") {
    import spark.implicits._
    // round-10 review counterexample: 'aab' has TWO derivations
    // (a+ab at rank 2, aa+b at rank 4) with a consumer rule (aab+x,
    // rank 3) between them. The chain leaves [aab, x] — rule 3's turn
    // passes before rule 4 builds 'aab'. The textbook "merge the
    // lowest-rank pair present, repeat" loop would wrongly revisit
    // rank 3 afterwards and emit [aabx]. The native sweep must match
    // the chain (the engine's contract, what every oracle runs).
    val table = Seq("a|a", "a|b", "a|ab", "aab|x", "aa|b")
    val got = Seq("aabx")
      .toDF("w")
      .withColumn("ms", typedLit(table))
      .select(expr("graft_bpe_encode(w, ms)").as("syms"))
      .head()
      .getSeq[String](0)
    assert(got == Seq("aab", "x"), s"native diverged from the chain: $got")
    // and on a larger random sample over the same alphabet, arbitrary
    // tables (NO parts-before-use restriction — the contract is
    // unconditional) still match the list-walk chain
    def refChain(word: String, merges: Seq[(String, String)]): Seq[String] = {
      var syms = word.map(_.toString).toList
      for ((a, b) <- merges) {
        val out = scala.collection.mutable.ListBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toList
      }
      syms
    }
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until 10) {
      // arbitrary multi-char symbols — dual derivations arise freely
      val alpha = "ab"
      def sym() = (0 until (1 + rnd.nextInt(3))).map(_ => alpha(rnd.nextInt(2))).mkString
      val tbl = Vector.fill(6 + rnd.nextInt(6))((sym(), sym())).distinct
      val words = Seq.fill(120)(
        (0 until (1 + rnd.nextInt(8))).map(_ => alpha(rnd.nextInt(2))).mkString)
      val rows = words
        .toDF("w")
        .withColumn("ms", typedLit(tbl.map { case (a, b) => s"$a|$b" }))
        .select(col("w"), expr("graft_bpe_encode(w, ms)").as("syms"))
        .collect()
      rows.foreach { r =>
        val w = r.getString(0)
        assert(r.getSeq[String](1) == refChain(w, tbl), s"trial $trial drift on '$w' tbl=$tbl")
      }
    }
  }

  test("'|'-bearing symbols cannot hang the sweep") {
    import spark.implicits._
    // the table spelling is ambiguous for symbols containing '|'
    // (documented, engine-wide), but adjacency is checked by
    // whole-symbol equality — a rule whose re-concatenated key would
    // "match" a stream it can never merge must terminate as a no-op
    // (the pre-review greedy loop span forever here)
    val got = Seq("x|a")
      .toDF("w")
      .withColumn("ms", typedLit(Seq("||a")))
      .select(expr("graft_bpe_encode(w, ms)").as("syms"))
      .head()
      .getSeq[String](0)
    assert(got == Seq("x", "|", "a"), s"unexpected symbols: $got")
  }

  test("multi-'|' entries parse as split()[1] — the engine convention") {
    import spark.implicits._
    // entry 'a|b|c': the engine convention (trainMerges, the oracles)
    // takes b = the segment BETWEEN the first and second '|' — so the
    // rule is (a, b) and MUST fire on "ab". The pre-round-11 parse took
    // b = "b|c" (everything after the first '|'), a rule that can never
    // fire — a silent kernel/oracle divergence (round-10 ADVICE #1).
    val got = Seq("ab")
      .toDF("w")
      .withColumn("ms", typedLit(Seq("a|b|c")))
      .select(expr("graft_bpe_encode(w, ms)").as("syms"))
      .head()
      .getSeq[String](0)
    assert(got == Seq("ab"), s"entry 'a|b|c' must merge (a, b): got $got")
  }

  test("space-bearing symbols fail fast instead of drifting from the chain") {
    import spark.implicits._
    // a space inside a symbol breaks the string-spelled chain contract
    // itself (the ' a  b ' pattern can match across symbol boundaries),
    // so the SQL-registered kernel rejects the table at compile
    val ex = intercept[Exception] {
      Seq("ab")
        .toDF("w")
        .withColumn("ms", typedLit(Seq("a |b")))
        .select(expr("graft_bpe_encode(w, ms)").as("syms"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(
      messages(ex).exists(_.contains("space-bearing")),
      s"expected the space-bearing fail-fast, got: ${messages(ex)}")
  }

  test("a recycled ArrayData wrapper never serves a stale compiled table") {
    // columnar readers may re-point ONE array wrapper at different
    // buffers between rows; the per-expression table cache must only
    // trust reference identity for FOLDABLE merge children (round-10
    // verdict "what's wrong" #2). Drive the expression directly with a
    // non-foldable merges child and a mutated-in-place wrapper.
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val e = graft.functions.BpeEncode(
      BoundReference(0, StringType, nullable = false),
      BoundReference(1, ArrayType(StringType), nullable = false))
    val underlying = Array[Any](UTF8String.fromString("t|h"))
    val wrapper = new GenericArrayData(underlying)
    def enc(w: String) =
      e.run(UTF8String.fromString(w), wrapper)
        .asInstanceOf[GenericArrayData].array.map(_.toString).toSeq
    assert(enc("th") == Seq("th")) // caches the (t, h) table
    underlying(0) = UTF8String.fromString("x|y") // same wrapper, new contents
    assert(enc("th") == Seq("t", "h"), "stale table served through a recycled wrapper")
    assert(enc("xy") == Seq("xy"))
  }

  test("~50k-merge vocabulary: native encoder runs at full scale") {
    import spark.implicits._
    // the table size the chain structurally cannot reach (a 50k-deep
    // nested replace breaks codegen and costs 50k passes per word):
    // 50,000 single-char pair rules over a 256-symbol alphabet —
    // trivially parts-before-use. The encoder's cost must be driven by
    // merges APPLIED, not table size.
    val alphabet = (0 until 256).map(i => (0x4e00 + i).toChar.toString)
    val merges = (for (a <- alphabet; b <- alphabet) yield s"$a|$b").take(50000)
    assert(merges.size == 50000)
    val rnd = new scala.util.Random(31)
    val words = Seq.fill(2000)(
      (0 until (2 + rnd.nextInt(10))).map(_ => alphabet(rnd.nextInt(40))).mkString)
    val t0 = System.nanoTime()
    val counts = words
      .grouped(50).map(_.toSeq).toSeq
      .toDF("toks")
      .withColumn("ms", typedLit(merges))
      .select(expr("graft_bpe_doc_tokens(toks, ms)").as("n"))
      .collect()
      .map(_.getLong(0))
    val secs = (System.nanoTime() - t0) / 1e9
    // every rule is (x, y) -> xy over single chars: one greedy pass per
    // applied rank; spot-check one word against the rank semantics via
    // graft_bpe_encode, and require the run completed in sane time
    assert(counts.sum > 0 && counts.forall(_ >= 1))
    assert(secs < 30.0, s"50k-merge encode took $secs s")
    val one = Seq(words.head)
      .toDF("w")
      .withColumn("ms", typedLit(merges))
      .select(expr("graft_bpe_encode(w, ms)").as("syms"))
      .head()
      .getSeq[String](0)
    assert(one.mkString == words.head, "symbols must concatenate back to the word")
  }

  private def trained(words: Seq[String], steps: Int): Seq[(Long, String, String, Long, Long)] = {
    import spark.implicits._
    Bpe
      .trainMerges(words.toDF("word"), steps)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq
  }

  test("q190 training loop matches a hand-computed fixture") {
    // corpus: the, the, then, and, and, and
    //   round 1: pairs t|h x3, h|e x3, e|n x1, a|n x3, n|d x3
    //            -> cnt-3 tie breaks on pair string: a|n
    //   round 2: an|d x3 beats h|e / t|h on the string -> an|d
    //   round 3: h|e x3 beats t|h -> h|e
    //   round 4: t|he x3 (the/then now ' t  he ..') -> t|he
    // n_affected counts VOCABULARY entries touched per round — round 1
    // merges (a, n) inside 'and' only (1 of 3 vocab entries), round 3's
    // (h, e) sits in both 'the' and 'then'
    assert(trained(Seq("the", "the", "then", "and", "and", "and"), steps = 4) == Seq(
      (1L, "a", "n", 3L, 1L), (2L, "an", "d", 3L, 1L), (3L, "h", "e", 3L, 2L), (4L, "t", "he", 3L, 2L)))
  }

  test("incremental trainer == full-recount trainer, merge for merge") {
    // the trainer keeps its pair counts by deltas over the affected
    // words; BpeFolds recounts every pair each round by string replace,
    // as the DuckDB oracles do. Both must learn IDENTICAL tables — same
    // argmaxes, tie-breaks, counts and n_affected — on any corpus; 24
    // steps over a random 5-letter-alphabet vocabulary exercises
    // multi-level stacks and count collisions
    val rnd = new scala.util.Random(7)
    val words = Seq.fill(400)((0 until (3 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(5)).toChar).mkString)
    assert(trained(words, 24) == BpeFolds.trainMerges(words, 24),
      "delta-maintained training diverged from the recount")
  }

  test("argmax ties break in code-point order, not UTF-16 order") {
    // U+FFFD|a and U+1F600|a tie at count 2: U+FFFD is the smaller code
    // point, but U+1F600's UTF-16 high surrogate (0xD83D) sorts below
    // 0xFFFD, so a String.compareTo tie-break would learn U+1F600|a first
    val replacement = "\uFFFD"
    val grinning = new String(Character.toChars(0x1F600))
    val words = Seq.fill(2)(s"${replacement}a") ++ Seq.fill(2)(s"${grinning}a")
    val want = Seq((1L, replacement, "a", 2L, 1L), (2L, grinning, "a", 2L, 1L))
    assert(BpeFolds.trainMerges(words, 2) == want)
    assert(trained(words, 2) == want)
  }

  test("training exhaustion fails loudly, not with a null cascade") {
    import spark.implicits._
    // 'ab' exhausts after one merge: step 2's argmax row is all-null,
    // and the lazy raise_error guard must surface a clear message when
    // the learned table is consumed (silent null merge-back was the
    // pre-guard failure mode)
    val ex = intercept[Exception] {
      Bpe.trainMerges(Seq("ab", "ab").toDF("word"), steps = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("bpe training exhausted")), ex.toString.take(300))
  }

  test("q190 on the corpus: distinct merges with non-increasing counts") {
    val dir = "/root/testdata/sf0.001"
    val merges = graft.SparkEntry
      .queries("q190_bpe_train")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.length == 6)
    // each learned merge is a new pair (the previous one is gone)
    assert(merges.map(m => (m._2, m._3)).distinct.length == 6)
    // the best-pair count can only fall as merges consume occurrences
    val cnts = merges.sortBy(_._1).map(_._4)
    assert(cnts.zip(cnts.tail).forall { case (x, y) => x >= y }, s"counts rose: ${cnts.toSeq}")
    assert(cnts.last > 0)
    graft.Engine.releaseScratch(spark)
  }

  test("q194 applies the learned merges: compression strictly below 1, bounded below") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry
      .queries("q194_bpe_train_apply")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nChars, nLearned, compression) =>
      // the learned merges must actually fire (tokens < chars) and a
      // token can never cover zero chars (tokens >= chars/maximum
      // symbol length; 6 merges cap symbols at a few chars, so > 0.1)
      assert(nLearned < nChars, s"$lang: learned merges never fired")
      assert(compression > 0.1 && compression < 1.0, s"$lang: compression $compression")
    }
    graft.Engine.releaseScratch(spark)
  }

  test("q195 artifact round-trip: re-read table equals the learned table") {
    val dir = "/root/testdata/sf0.001"
    // run the query (it writes + re-reads the artifact internally) ...
    val viaArtifact = graft.SparkEntry
      .queries("q195_bpe_artifact_roundtrip")(spark, dir)
      .collect()
      .map(_.toSeq)
    // ... then pin the persisted table against a fresh training run
    // same JVM, same per-process token: resolves to the exact dir the
    // query wrote (a hand-built path would pin a stale earlier process)
    val work = graft.Engine.scratchDir("q195", dir)
    val persisted = spark.read
      .parquet(s"$work/merges")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val fresh = Bpe
      .trainMerges(
        graft.Engine.table(spark, dir, "documents")
          .select(explode(graft.queries.Tokenize.toksExpr).as("word")),
        steps = 6)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(persisted.toSeq == fresh.toSeq, "artifact drifted from the learned table")
    // and applying the loaded table equals the in-plan train-then-apply
    val direct = graft.SparkEntry
      .queries("q194_bpe_train_apply")(spark, dir)
      .collect()
      .map(_.toSeq)
    assert(viaArtifact.toSeq == direct.toSeq)
    graft.Engine.releaseScratch(spark)
  }

  test("q196 deep table: 64 distinct merges with genuinely multi-level stacks") {
    val dir = "/root/testdata/sf0.001"
    val merges = Bpe
      .trainMerges(
        graft.Engine.table(spark, dir, "documents")
          .select(explode(graft.queries.Tokenize.toksExpr).as("word")),
        steps = 64)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.length == 64)
    assert(merges.map(m => (m._2, m._3)).distinct.length == 64, "a pair was re-learned")
    val cnts = merges.sortBy(_._1).map(_._4)
    assert(cnts.zip(cnts.tail).forall { case (x, y) => x >= y }, "best-pair counts rose")
    assert(cnts.last > 0, "training exhausted the corpus before 64 rounds")
    // depth: some merge consumes a symbol that itself took >= 2 merges
    // to build (length >= 3) — the multi-level regime the 6-step family
    // never reaches
    assert(merges.exists(m => m._2.length >= 3 || m._3.length >= 3),
      "no merge stacked past level 2 — not a deep table")
    val fert = graft.SparkEntry
      .queries("q196_bpe_deep_fertility")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getDouble(3)))
    assert(fert.nonEmpty)
    fert.foreach { case (lang, f) =>
      // >= 1 token per word, and well under the average word length
      assert(f >= 1.0 && f < 20.0, s"$lang fertility $f implausible")
    }
    graft.Engine.releaseScratch(spark)
  }

  test("q189 packing is consistent with q188 counts") {
    val dir = "/root/testdata/sf0.001"
    val counts = graft.SparkEntry
      .queries("q188_bpe_tokenize")(spark, dir)
      .select(col("doc_id"), col("n_bpe"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1)
    val packs = graft.SparkEntry
      .queries("q189_bpe_pack")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // same counts, and offsets are the exact running sum mod/div 2048
    assert(packs.map(p => p._1 -> p._2).toSeq == counts.toSeq)
    var run = 0L
    packs.foreach { case (id, n, packId, off) =>
      assert(packId == run / 2048 && off == run % 2048, s"doc $id misplaced")
      run += n
    }
    // BPE compresses: corpus token count strictly below character count
    val chars = graft.SparkEntry
      .queries("q188_bpe_tokenize")(spark, dir)
      .agg(sum(col("n_chars")), sum(col("n_bpe")))
      .head()
    assert(chars.getLong(1) < chars.getLong(0), "no merge ever fired — vacuous table")
    graft.Engine.releaseScratch(spark)
  }
}
