package graft.queries

import scala.collection.mutable

import graft.{Engine, QueryDef}
import graft.mr.MapReduceJob
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import OracleSql._

/** Byte-pair-encoding merge APPLICATION — the last standard stage of a
  * training-data pipeline the engine was missing: every published
  * pipeline sizes shards, packs sequences, and reports budgets in
  * TOKENIZER tokens, not whitespace words (a BPE token count runs
  * ~1.3-2x the word count and the gap is content-dependent, so
  * whitespace counts systematically mis-size packs).
  *
  * The default merge table is a FIXED LITERAL of 16 rules (the engine's
  * established stand-in pattern — q169's classifier weights, q175's
  * language profiles), but the APPLICATION machinery is production-
  * shaped: the gated queries run the NATIVE one-pass greedy merge-rank
  * encoder (functions/BpeEncode.scala), whose cost is independent of
  * merge-table size — the same code object handles the 16-rule literal,
  * a learned table read from a column (q194/q195), and a ~50k-merge
  * real vocabulary (BpeSpec's smoke test). The replace-chain spelling
  * below remains as the cross-engine CONTRACT: it is what the DuckDB
  * oracles execute, and the native encoder implements EXACTLY that
  * contract — a sparse rule-order sweep, symbol-identical to the chain
  * on ANY space-free-symbol table (see BpeKernel's contract note; the naive
  * lowest-rank-present loop is NOT equivalent on tables where one
  * symbol has two derivations).
  *
  * Encoding contract (cross-engine exact, one definition site):
  *   - a word becomes a symbol stream rendered as a STRING, every
  *     symbol wrapped in its own spaces: "the" -> " t  h  e "
  *     (adjacent symbols are separated by TWO spaces — each owns a
  *     leading and a trailing one, so a replacement never consumes a
  *     neighbor's boundary and greedy left-to-right replacement is
  *     well-defined);
  *   - merge rules apply IN TABLE ORDER, one global left-to-right
  *     `replace(s, ' a  b ', ' ab ')` pass each. The table is ordered
  *     parts-before-use (a rule's symbols are built only by earlier
  *     rules), the same invariant real BPE merge lists have, which is
  *     what makes sequential per-rule application deterministic and
  *     equal in any engine with standard replace() semantics;
  *   - the BPE token count of a word = surviving symbol count; a doc's
  *     count sums its words'.
  *
  * Everything is codegen'd string builtins riding the scan — per-row
  * narrow work, no shuffle, no UDF; the DuckDB oracle applies the SAME
  * table via the same wrap/replace/count pipeline (only the two
  * engines' regex-replacement spellings differ: `$1` vs `\1`).
  *
  * Merge LEARNING has one trainer, [[Bpe.trainMerges]]: a distributed
  * vocabulary count, then every merge round inside one task. Its
  * scaladoc states the exactness rules (tie-break order, merge,
  * n_affected, exhaustion) that the training oracles replay.
  */
object Bpe {

  /** Ordered merge rules (parts always precede uses). A real tokenizer
    * ships ~50k of these; 16 common English units exercise multi-level
    * merges (t+h -> th, th+e -> the; i+n -> in, in+g -> ing).
    */
  val Merges: Seq[(String, String)] = Seq(
    "t" -> "h",
    "th" -> "e",
    "i" -> "n",
    "a" -> "n",
    "an" -> "d",
    "e" -> "r",
    "o" -> "n",
    "r" -> "e",
    "in" -> "g",
    "o" -> "r",
    "e" -> "n",
    "a" -> "t",
    "e" -> "s",
    "o" -> "u",
    "l" -> "e",
    "c" -> "o"
  )

  private def chain(wrapped: String): String =
    Merges.foldLeft(wrapped) { case (acc, (a, b)) =>
      s"replace($acc, ' $a  $b ', ' $a$b ')"
    }

  /** The merge table as a SQL array literal of `'a|b'` entries in rank
    * order — the input spelling of the native encoder (and of q190's
    * learned output). ONE definition site for every Spark-side query.
    */
  def mergesSql: String =
    Merges.map { case (a, b) => s"'$a|$b'" }.mkString("array(", ", ", ")")

  /** Spark SQL: the wrap-only symbol stream (chars, no merges applied)
    * — the encode start state AND the training (q190) day-0 state.
    */
  def wrapSpark(word: String): String = s"regexp_replace($word, '(.)', ' $$1 ')"

  /** DuckDB mirror of [[wrapSpark]]. */
  def wrapDuck(word: String): String = s"regexp_replace($word, '(.)', ' \\1 ', 'g')"

  /** Spark SQL: the full encode of a word-expression into the wrapped
    * symbol-stream string (apply [[symCountSpark]] for the count).
    */
  def encodeSpark(word: String): String = chain(wrapSpark(word))

  /** DuckDB mirror of [[encodeSpark]] — same wrap, same table, same
    * replace chain; only the regex replacement spelling differs.
    */
  def encodeDuck(word: String): String = chain(wrapDuck(word))

  /** Spark SQL: the symbol list of an encoded stream (split on runs of
    * spaces, drop empties).
    */
  def symsSpark(encoded: String): String =
    s"filter(split($encoded, ' +'), x -> x != '')"

  /** DuckDB mirror of [[symsSpark]]. */
  def symsDuck(encoded: String): String =
    s"list_filter(string_split_regex($encoded, ' +'), x -> x <> '')"

  /** Spark SQL: symbol count of an encoded stream. */
  def symCountSpark(encoded: String): String = s"size(${symsSpark(encoded)})"

  /** DuckDB mirror of [[symCountSpark]]. */
  def symCountDuck(encoded: String): String = s"len(${symsDuck(encoded)})"

  /** Spark SQL: a doc's total BPE token count over its `toks` array —
    * the NATIVE sparse rule-sweep encoder (functions/BpeEncode.scala),
    * symbol-identical to the replace-chain on ANY space-free-symbol table (BpeSpec pins
    * the equality; the DuckDB oracles keep the chain spelling) but
    * extending to a real ~50k-merge vocabulary where a 50k-deep nested
    * replace breaks codegen and costs 50k passes per word. The
    * `coalesce` mirrors the oracle's NULL handling: a NULL `text`
    * tokenizes to a NULL array, and both engines must report 0 tokens
    * for it.
    */
  def docTokensSpark(toksCol: String): String =
    s"coalesce(graft_bpe_doc_tokens($toksCol, $mergesSql), cast(0 as bigint))"

  /** The replace-chain spelling of [[docTokensSpark]] — kept as the
    * cross-check target (BpeSpec pins chain == native on the gated
    * table) and as the documentation of the contract the oracle runs.
    */
  def docTokensChainSpark(toksCol: String): String =
    s"coalesce(aggregate(transform($toksCol, w -> cast(${symCountSpark(encodeSpark("w"))} as bigint)), " +
      "cast(0 as bigint), (acc, x) -> acc + x), cast(0 as bigint))"

  /** DuckDB mirror of [[docTokensSpark]]. */
  def docTokensDuck(toksCol: String): String =
    s"CAST(coalesce(list_sum(list_transform($toksCol, " +
      s"w -> ${symCountDuck(encodeDuck("w"))})), 0) AS BIGINT)"

  /** DuckDB: adjacent symbol pairs (`a|b`) of a symbol list column
    * named `sy` — the unit the training oracles count (the series is
    * empty when len < 2).
    */
  val pairsDuck: String =
    "list_transform(generate_series(1, len(sy) - 1), i -> sy[i] || '|' || sy[i + 1])"

  /** BPE merge learning, the Sennrich et al. induction loop (q190's
    * body; `Graft.bpeTrainMerges`): `steps` rounds of count adjacent
    * symbol pairs -> take the most frequent pair -> merge it everywhere,
    * over a one-column `word` DataFrame. Returns (step, a, b, cnt,
    * n_affected), ordered by step.
    *
    * It is one map -> group -> reduce pass. The distributed
    * `groupBy(word)` count is the only step that grows with the corpus;
    * it also splits each vocabulary word into its initial symbols
    * (`symsSpark(wrapSpark(word))`). The (symbols, freq) table, bounded
    * by the word types, is then coalesced into ONE task that runs every
    * round in plain Scala. Pair counts, and the words that hold each
    * pair, are kept by exact freq-weighted deltas: a round subtracts the
    * old pairs of the words the merge touches and adds their new ones,
    * and leaves every other word alone. The state stays in that task.
    *
    * Exactness rules (the DuckDB oracles replay them by string replace
    * and a full recount per round; BpeSpec pins them against an
    * independent recount):
    *   - argmax: the highest `cnt`; ties break on the smallest `a|b` in
    *     UTF-8 byte (code point) order, [[graft.mr.MapReduceJob.utf8Ordering]],
    *     as the oracles' `ORDER BY cnt DESC, pr` does. `String.compareTo`
    *     is UTF-16 order, which differs above U+FFFF;
    *   - merge: adjacent (a, b) becomes ab, left to right, without
    *     overlaps — `replace(s, ' a  b ', ' ab ')` on the wrapped form;
    *   - n_affected: the vocabulary words that contain the pair before
    *     the merge (the q209 oracle's `contains` count);
    *   - exhaustion: with no pair left at step t the task throws "bpe
    *     training exhausted: no mergeable pair at step t — ...".
    * Symbols hold no space (they come from a split on spaces); a word
    * whose symbols hold '|' makes the `a|b` spelling ambiguous, here as
    * in the oracles.
    */
  def trainMerges(words: DataFrame, steps: Int): DataFrame =
    words
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .select(expr(symsSpark(wrapSpark("word"))).as("sy"), col("freq"))
      .coalesce(1)
      .mapPartitions { rows =>
        val vocab = rows.filterNot(_.isNullAt(0)).map(r => (r.getSeq[String](0).toArray, r.getLong(1)))
        mergeRounds(vocab.toArray, steps)
      }(Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
      .toDF("step", "a", "b", "cnt", "n_affected")
      .orderBy(col("step"))

  /** [[trainMerges]]' rounds over one task's (symbols, freq) vocabulary. */
  private def mergeRounds(
      vocab: Array[(Array[String], Long)], steps: Int): Iterator[(Long, String, String, Long, Long)] = {
    val syms = vocab.map(_._1)
    val cnt = mutable.HashMap.empty[(String, String), Long]
    val holders = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def account(w: Int, sign: Long): Unit =
      syms(w).iterator.zip(syms(w).iterator.drop(1)).foreach { p =>
        val c = cnt.getOrElse(p, 0L) + sign * vocab(w)._2
        if (c == 0L) { cnt -= p; holders -= p }
        else {
          cnt(p) = c
          val h = holders.getOrElseUpdate(p, mutable.Set.empty)
          if (sign > 0) h += w else h -= w
        }
      }
    def merge(sy: Array[String], a: String, b: String): Array[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < sy.length) {
        if (i + 1 < sy.length && sy(i) == a && sy(i + 1) == b) { out += a + b; i += 2 }
        else { out += sy(i); i += 1 }
      }
      out.toArray
    }
    def pr(p: (String, String)): String = p._1 + "|" + p._2
    syms.indices.foreach(account(_, 1L))
    (1 to steps).map { t =>
      if (cnt.isEmpty)
        throw new IllegalStateException(s"bpe training exhausted: no mergeable pair at step $t — " +
          "corpus vocabulary too small for the requested depth")
      val ((a, b), c) = cnt.reduce { (x, y) =>
        if (y._2 > x._2 || y._2 == x._2 && MapReduceJob.utf8Ordering.lt(pr(y._1), pr(x._1))) y else x
      }
      val hit = holders((a, b)).toArray
      hit.foreach { w => account(w, -1L); syms(w) = merge(syms(w), a, b); account(w, 1L) }
      (t.toLong, a, b, c, hit.length.toLong)
    }.iterator
  }

  /** Collapse a learned merge table (step, a, b, ...) into ONE row with
    * an `ms` column: the rank-ordered `'a|b'` array the native encoder
    * takes. A single-row aggregate — callers `crossJoin(broadcast(...))`
    * it against the corpus (the engine's single-row broadcast rule).
    * sort_array on (step, m) structs orders by step; the step field is
    * then dropped by the transform.
    */
  def mergesRow(merges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    merges
      .select(struct(col("step"), concat(col("a"), lit("|"), col("b")).as("m")).as("sm"))
      .agg(sort_array(collect_list(col("sm"))).as("sms"))
      .select(expr("transform(sms, x -> x.m)").as("ms"))
}

object BpeOps {

  /** q188's transform — stateless narrow string work over a (doc_id,
    * text) frame, shared VERBATIM by the streaming q192 (the
    * q169/q170 and q172/q177 batch/stream no-drift pattern: one code
    * object, two execution shapes, one oracle string).
    */
  private[graft] def tokenCounts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), Tokenize.toksExpr.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        // coalesce mirrors the oracle: NULL text -> NULL toks -> 0 chars
        expr("coalesce(aggregate(transform(toks, w -> cast(length(w) as bigint)), " +
          "cast(0 as bigint), (acc, x) -> acc + x), cast(0 as bigint))").as("n_chars"),
        expr(Bpe.docTokensSpark("toks")).as("n_bpe")
      )

  /** q188 AND q192's oracle — the same SQL string object. */
  private[graft] def tokenCountsOracleSql: String =
    s"""WITH $toksCte
             SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS BIGINT)
                 AS n_chars,
               ${Bpe.docTokensDuck("toks")} AS n_bpe
             FROM t ORDER BY doc_id"""

  val entries: Seq[QueryDef] = Seq(
    // --------------------------------------------------------------- q188
    // BPE token accounting per document: word count, character count,
    // and the BPE token count under the literal merge table — the
    // numbers a shard-sizing/budgeting stage keys on (q129/q89 run on
    // whitespace words; this is the tokenizer-true replacement). Pure
    // narrow per-row string work riding the documents scan; applied
    // unchanged to a file stream by q192.
    QueryDef(
      "q188_bpe_tokenize",
      (s, dir) => tokenCounts(Engine.table(s, dir, "documents")).orderBy(col("doc_id")),
      Some(tokenCountsOracleSql)
    ),
    // --------------------------------------------------------------- q189
    // Sequence packing on BPE tokens — q129's GPT-style
    // concatenate-and-slice packing, re-keyed on the tokenizer-true
    // counts q188 computes (the verdict-8 "wire the counts into
    // packing" step): each doc's (pack_id, pack_offset) in fixed
    // 2048-BPE-token training sequences via the exact distributed
    // prefix sum (Ranks.distributedPrefixSum — range exchange, local
    // cumsum, broadcast offsets; never a global single-partition
    // window).
    QueryDef(
      "q189_bpe_pack",
      (s, dir) => {
        val st = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), Tokenize.toksExpr.as("toks"))
          .select(col("doc_id"), expr(Bpe.docTokensSpark("toks")).as("n_tokens"))
        graft.operators.Ranks
          .distributedPrefixSum(st, Seq(col("doc_id")), col("n_tokens"), inclusive = false)
          .withColumn("start", col("psum"))
          .select(
            col("doc_id"),
            col("n_tokens"),
            expr("start div 2048").as("pack_id"),
            (col("start") % 2048).as("pack_offset")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksCte,
             st AS (SELECT doc_id, ${Bpe.docTokensDuck("toks")} AS nt FROM t),
             $packSql""")
    ),
    // --------------------------------------------------------------- q190
    // Distributed BPE merge LEARNING — the tokenizer-TRAINING side of
    // q188's application: 6 rounds of (count adjacent symbol pairs ->
    // take the globally most frequent pair -> merge it everywhere), the
    // Sennrich et al. BPE induction loop, through Bpe.trainMerges: one
    // distributed (word, freq) VOCABULARY count, then every round in one
    // task over freq-weighted pair counts (at 100 TB the vocabulary is
    // bounded by word types, not corpus size). Deterministic: argmax
    // ties break on the pair string, mirrored by the oracle's ORDER BY
    // cnt DESC, pr LIMIT 1. The ORACLE deliberately counts token
    // INSTANCES (no vocab pre-aggregation): the hash gate then PROVES
    // freq-weighted vocab counting equals instance counting — two
    // algorithms, one contract. Output: the learned merge table (step,
    // a, b, count); a real run does ~50k steps.
    QueryDef(
      "q190_bpe_train",
      (s, dir) =>
        Bpe.trainMerges(
          Engine
            .table(s, dir, "documents")
            .select(explode(Tokenize.toksExpr).as("word")),
          steps = 6)
          .select(col("step"), col("a"), col("b"), col("cnt")),
      Some {
        val steps = 6
        val unions = (1 to steps)
          .map(t => s"SELECT CAST($t AS BIGINT) AS step, pr, cnt FROM b$t")
          .mkString("\n             UNION ALL ")
        s"""${trainCtesSql(steps)}
             SELECT step, string_split(pr, '|')[1] AS a, string_split(pr, '|')[2] AS b,
               CAST(cnt AS BIGINT) AS cnt
             FROM ($unions) u
             ORDER BY step"""
      }
    ),
    // --------------------------------------------------------------- q194
    // Train-then-APPLY — the composition that proves q190's learned
    // merges are a usable tokenizer, not just a table: re-run the
    // 6-step training loop, collect the learned pairs into ONE
    // rank-ordered broadcast array row, and re-encode the whole corpus
    // under THOSE merges with the NATIVE encoder (graft_bpe_doc_tokens
    // reading its merge table from a COLUMN — the data-dependent
    // encode; the per-row table cache re-anchors once per document).
    // Output per language: character count, token count under the
    // learned merges, and the compression ratio (tokens/char, lower =
    // better; q188's literal table is the fixed-vocabulary baseline).
    // The DuckDB oracle keeps the learned replace-CHAIN spelling — the
    // gate hash doubles as the chain==native equivalence proof on a
    // learned (parts-before-use) table. Scale shape: training as q190
    // (vocab rounds), application as q188 (narrow per-row work riding
    // the scan) — the merge row is a 1-row broadcast, so nothing about
    // the corpus side changes.
    QueryDef(
      "q194_bpe_train_apply",
      (s, dir) => {
        val steps = 6
        val merges = Bpe.trainMerges(
          Engine
            .table(s, dir, "documents")
            .select(explode(Tokenize.toksExpr).as("word")),
          steps)
        Engine
          .table(s, dir, "documents")
          .select(col("lang"), Tokenize.toksExpr.as("toks"))
          .crossJoin(broadcast(Bpe.mergesRow(merges)))
          .select(
            col("lang"),
            expr("coalesce(aggregate(transform(toks, w -> cast(length(w) as bigint)), " +
              "cast(0 as bigint), (acc, x) -> acc + x), cast(0 as bigint))").as("nc"),
            expr("coalesce(graft_bpe_doc_tokens(toks, ms), cast(0 as bigint))").as("nl"))
          .groupBy(col("lang"))
          .agg(sum(col("nc")).as("n_chars"), sum(col("nl")).as("n_learned"))
          .withColumn(
            "compression",
            round(col("n_learned").cast("double") / greatest(col("n_chars"), lit(1L)), 6))
          .orderBy(col("lang"))
      },
      Some(trainApplyOracleSql(6))
    ),
    // --------------------------------------------------------------- q195
    // Tokenizer-ARTIFACT round-trip — the interop step between q190's
    // learning and q188-family application: the learned merge table is
    // PERSISTED as a (step, a, b) parquet artifact (the engine's
    // tokenizer.json analog), re-LOADED from disk, and the corpus is
    // re-encoded under the loaded table — so a separately trained
    // tokenizer (any table in rank order) can drive token accounting.
    // Same output contract as q194 (per-lang chars/tokens/compression)
    // and the SAME oracle string: the gate proves write -> read -> apply
    // loses nothing vs train -> apply in one plan. BpeSpec additionally
    // pins artifact re-read row equality. Scale shape: the artifact is
    // vocab-metadata-sized (50k rows in production), written/read once
    // per job — a broadcast-sized side input, never corpus-scale.
    QueryDef(
      "q195_bpe_artifact_roundtrip",
      (s, dir) => {
        val work = Engine.scratchDir("q195", dir)
        graft.Engine.deleteRecursively(work)
        val artifact = s"$work/merges"
        Bpe
          .trainMerges(
            Engine.table(s, dir, "documents").select(explode(Tokenize.toksExpr).as("word")),
            steps = 6)
          .select(col("step"), col("a"), col("b"))
          .write.parquet(artifact)
        val loaded = s.read.parquet(artifact)
        Engine
          .table(s, dir, "documents")
          .select(col("lang"), Tokenize.toksExpr.as("toks"))
          .crossJoin(broadcast(Bpe.mergesRow(loaded)))
          .select(
            col("lang"),
            expr("coalesce(aggregate(transform(toks, w -> cast(length(w) as bigint)), " +
              "cast(0 as bigint), (acc, x) -> acc + x), cast(0 as bigint))").as("nc"),
            expr("coalesce(graft_bpe_doc_tokens(toks, ms), cast(0 as bigint))").as("nl"))
          .groupBy(col("lang"))
          .agg(sum(col("nc")).as("n_chars"), sum(col("nl")).as("n_learned"))
          .withColumn(
            "compression",
            round(col("n_learned").cast("double") / greatest(col("n_chars"), lit(1L)), 6))
          .orderBy(col("lang"))
      },
      Some(trainApplyOracleSql(6))
    ),
    // --------------------------------------------------------------- q196
    // Deep learned-vocabulary fertility — q191's datacard metric under
    // a 64-step LEARNED table (the verdict-9 "beyond 6 merges" depth):
    // train 64 Sennrich rounds on the corpus vocabulary (q190's trainer —
    // the rounds run in one task over the VOCAB, so depth scales the
    // round count, not the corpus cost), then report per-language tokens-per-word under
    // those merges via the native encoder. 64 levels exercise genuinely
    // multi-level merge stacks (symbols built from symbols built from
    // symbols), the regime where greedy merge-rank order and the
    // rule-at-a-time chain must still agree — the oracle replays all 64
    // rounds freq-weighted on the vocabulary and applies the learned
    // chain per DISTINCT word (the same vocab economics: |vocab| chain
    // evaluations, joined back to per-language word frequencies).
    QueryDef(
      "q196_bpe_deep_fertility",
      (s, dir) => {
        val merges = Bpe.trainMerges(
          Engine.table(s, dir, "documents").select(explode(Tokenize.toksExpr).as("word")),
          steps = DeepSteps)
        Engine
          .table(s, dir, "documents")
          .select(col("lang"), Tokenize.toksExpr.as("toks"))
          .crossJoin(broadcast(Bpe.mergesRow(merges)))
          .select(
            col("lang"),
            size(col("toks")).cast("long").as("nw"),
            expr("coalesce(graft_bpe_doc_tokens(toks, ms), cast(0 as bigint))").as("nb"))
          .groupBy(col("lang"))
          .agg(sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpe"))
          .withColumn(
            "fertility",
            round(col("n_bpe").cast("double") / greatest(col("n_words"), lit(1L)), 6))
          .orderBy(col("lang"))
      },
      Some(deepFertilityOracleSql(DeepSteps))
    ),
    // --------------------------------------------------------------- q197
    // The token SEQUENCE itself — every other gate in the family hashes
    // COUNTS; this one hash-gates the encoder's full output, symbol by
    // symbol with (word, symbol) positions, against the DuckDB chain:
    // the strongest cross-engine pin the native sweep has (a count can
    // survive a compensating double error; a positioned symbol stream
    // cannot). Deterministic 1-in-20 doc subset keeps the row count
    // sequence-sized; everything is narrow explode work riding the
    // scan — at 100 TB this IS the tokenize-and-materialize export
    // shape (doc -> positioned token ids), minus only the id lookup.
    QueryDef(
      "q197_bpe_token_stream",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .filter(col("doc_id") % 20 === 0)
          .select(col("doc_id"), Tokenize.toksExpr.as("toks"))
          .select(col("doc_id"), posexplode(col("toks")).as(Seq("wi0", "w")))
          .select(
            col("doc_id"),
            col("wi0").cast("long").as("wi"),
            posexplode(expr(s"graft_bpe_encode(w, ${Bpe.mergesSql})")).as(Seq("si0", "sym")))
          .select(
            col("doc_id"), col("wi"), col("si0").cast("long").as("si"), col("sym"))
          .orderBy(col("doc_id"), col("wi"), col("si")),
      Some(s"""WITH t AS (SELECT doc_id, ${Tokenize.toksSql} AS toks FROM documents
               WHERE doc_id % 20 = 0),
             wq AS (SELECT doc_id, unnest(toks) AS w,
                 unnest(range(len(toks))) AS wi FROM t),
             sq AS (SELECT doc_id, wi,
                 ${Bpe.symsDuck(Bpe.encodeDuck("w"))} AS sy FROM wq)
             SELECT doc_id, CAST(wi AS BIGINT) AS wi,
               CAST(unnest(range(len(sy))) AS BIGINT) AS si,
               unnest(sy) AS sym
             FROM sq ORDER BY doc_id, wi, si""")
    ),
    // --------------------------------------------------------------- q191
    // Tokenizer fertility by language — the multilingual datacard
    // metric (BPE tokens per word): a tokenizer whose merges were
    // learned on one language "over-segments" the others, and fertility
    // is how that inequity is reported (and how compute budgets skew).
    // Composition of q188's counts with a per-lang rollup; the ratio is
    // ONE long/long double division rounded to 6 decimals (the q108
    // share convention) — a premultiplied integer-micro form
    // (n_bpe * 1e6 div n_words) would overflow ANSI Long arithmetic
    // once a language holds >9.2e12 BPE tokens (~40 TB of text),
    // i.e. exactly at the engine's target scale; found in round-9
    // review.
    QueryDef(
      "q191_bpe_fertility",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(col("lang"), Tokenize.toksExpr.as("toks"))
          .select(
            col("lang"),
            size(col("toks")).cast("long").as("nw"),
            expr(Bpe.docTokensSpark("toks")).as("nb"))
          .groupBy(col("lang"))
          .agg(sum(col("nw")).as("n_words"), sum(col("nb")).as("n_bpe"))
          .withColumn(
            "fertility",
            round(col("n_bpe").cast("double") / greatest(col("n_words"), lit(1L)), 6))
          .orderBy(col("lang")),
      Some(s"""WITH t AS (SELECT lang, ${Tokenize.toksSql} AS toks FROM documents),
             d AS (SELECT lang, CAST(len(toks) AS BIGINT) AS nw,
                 ${Bpe.docTokensDuck("toks")} AS nb
               FROM t)
             SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
               CAST(sum(nb) AS BIGINT) AS n_bpe,
               round(CAST(sum(nb) AS DOUBLE) / greatest(sum(nw), 1), 6) AS fertility
             FROM d GROUP BY lang ORDER BY lang""")
    ),
    // --------------------------------------------------------------- q209
    // 256-STEP training gate with the per-step maintenance observable:
    // Bpe.trainMerges keeps its pair counts by exact freq-weighted
    // deltas over only the AFFECTED vocabulary words, and the gated
    // output carries n_affected per step, so the cost driver itself —
    // the shrinking per-round touched set — is part of the
    // cross-engine-hashed contract, not a wall-clock anecdote. The
    // training units are SentencePiece-style PRETOKENS — adjacent token
    // bigrams joined by a '_' marker (not in the [a-z0-9] token
    // alphabet) — so merges cross word boundaries the way
    // GPT-2/SentencePiece vocabularies do; necessarily so HERE, because
    // the synthetic corpus holds only 31 distinct words (~107 possible
    // within-word merges — q196's 64 steps fit, 256 cannot), while the
    // bigram pretoken universe carries ~9.6k. The DuckDB oracle replays
    // a different algorithm — a per-round full recount on the
    // freq-weighted vocabulary — so the 256-deep hash equality PROVES
    // the delta maintenance exact: 256 argmaxes, 256 merge-backs, and
    // 256 affected-counts all agree.
    QueryDef(
      "q209_bpe_incremental_train",
      (s, dir) =>
        Bpe.trainMerges(
          Engine
            .table(s, dir, "documents")
            .select(Tokenize.toksExpr.as("toks"))
            .select(explode(expr(
              "case when size(toks) >= 2 then transform(sequence(1, size(toks) - 1), " +
                "i -> concat(element_at(toks, i), '_', element_at(toks, i + 1))) " +
                "else array() end")).as("word")),
          steps = IncSteps),
      Some(incrementalTrainOracleSql(IncSteps))
    )
  )

  /** Learning depth of q196 — deep enough for genuinely multi-level
    * merge stacks (the 6-step family never stacks past level 3); the
    * per-round cost is vocab-bound, so depth is a round count.
    * A def — like every shared fragment declared after `entries`
    * (eager-interpolation rule: as a val this is 0 during `entries`'
    * init and the oracle silently trains zero steps).
    */
  private def DeepSteps: Int = 64

  /** q209's depth — the verdict-10 ">= 256 steps" incremental-training
    * gate. A def: the eager-interpolation rule.
    */
  private def IncSteps: Int = 256

  /** q209's oracle: a per-round FULL-recount replay (not the trainer's
    * delta maintenance) on the freq-weighted vocabulary, at
    * `steps` depth, emitting each round's argmax (pr, cnt) AND its
    * affected-vocabulary-row count. MATERIALIZED on every CTE
    * referenced twice — the q196 depth lesson (default inlining
    * expands an iterative chain exponentially). A def: the
    * eager-interpolation rule.
    */
  private def incrementalTrainOracleSql(steps: Int): String = {
    val stepCtes = (1 to steps).map { t =>
      val a = s"string_split(b$t.pr, '|')[1]"
      val b = s"string_split(b$t.pr, '|')[2]"
      s"""p$t AS (SELECT unnest(${Bpe.pairsDuck}) AS pr, freq
               FROM (SELECT ${Bpe.symsDuck("s")} AS sy, freq FROM s${t - 1}) q$t),
             c$t AS (SELECT pr, sum(freq) AS cnt FROM p$t GROUP BY pr),
             b$t AS MATERIALIZED (SELECT pr, cnt FROM c$t ORDER BY cnt DESC, pr LIMIT 1),
             n$t AS MATERIALIZED (SELECT count(*) AS na FROM s${t - 1}, b$t
               WHERE contains(s, ' ' || $a || '  ' || $b || ' ')),
             s$t AS MATERIALIZED (SELECT replace(s, ' ' || $a || '  ' || $b || ' ',
                 ' ' || $a || $b || ' ') AS s, freq FROM s${t - 1}, b$t)"""
    }
    // the per-step output rows union as a BALANCED binary tree, not a
    // left-deep stack: DuckDB's binder counts a 256-way UNION ALL chain
    // as ~256 extra expression depth on top of the step-CTE chain and
    // trips its 1000 limit — the balanced tree costs log2(steps) = 8
    // (measured: the left-deep spelling binds only through ~200 steps)
    def unionTree(xs: IndexedSeq[String]): String =
      if (xs.size == 1) xs.head
      else {
        val (l, r) = xs.splitAt(xs.size / 2)
        s"(${unionTree(l)} UNION ALL ${unionTree(r)})"
      }
    val unions = unionTree((1 to steps).map(t =>
      s"SELECT CAST($t AS BIGINT) AS step, b$t.pr AS pr, b$t.cnt AS cnt, n$t.na AS na FROM b$t, n$t"))
    s"""WITH t AS (SELECT ${Tokenize.toksSql} AS toks FROM documents),
             wl AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                 i -> toks[i] || '_' || toks[i + 1])) AS word FROM t),
             v AS (SELECT word, count(*) AS freq FROM wl GROUP BY word),
             s0 AS MATERIALIZED (SELECT ${Bpe.wrapDuck("word")} AS s, freq FROM v),
             ${stepCtes.mkString(cteSep)}
             SELECT step, string_split(pr, '|')[1] AS a, string_split(pr, '|')[2] AS b,
               CAST(cnt AS BIGINT) AS cnt, CAST(na AS BIGINT) AS n_affected
             FROM $unions u ORDER BY step"""
  }

  /** q194 AND q195's shared oracle (train 6 steps, apply the learned
    * chain, per-lang compression): one definition site so the artifact
    * round-trip is gated against EXACTLY the in-plan train-then-apply
    * contract. A def (declared after `entries`): the eager-interpolation
    * rule.
    */
  private def trainApplyOracleSql(steps: Int): String = {
    val pivots = (1 to steps)
      .map(t =>
        s"string_split(b$t.pr, '|')[1] AS a$t, string_split(b$t.pr, '|')[2] AS b$t")
      .mkString(",\n                 ")
    val froms = (1 to steps).map(t => s"b$t").mkString(", ")
    val chain = (1 to steps).foldLeft(Bpe.wrapDuck("w")) { (acc, t) =>
      s"replace($acc, ' ' || a$t || '  ' || b$t || ' ', ' ' || a$t || b$t || ' ')"
    }
    s"""${trainCtesSql(steps)},
             m AS (SELECT $pivots FROM $froms),
             d AS (SELECT lang, ${Tokenize.toksSql} AS toks FROM documents),
             r AS (SELECT lang,
                 CAST(coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS BIGINT) AS nc,
                 CAST(coalesce(list_sum(list_transform(toks,
                   w -> ${Bpe.symCountDuck(chain)})), 0) AS BIGINT) AS nl
               FROM d, m)
             SELECT lang, CAST(sum(nc) AS BIGINT) AS n_chars,
               CAST(sum(nl) AS BIGINT) AS n_learned,
               round(CAST(sum(nl) AS DOUBLE) / greatest(sum(nc), 1), 6) AS compression
             FROM r GROUP BY lang ORDER BY lang"""
  }

  /** q196's oracle: the full training replay at `steps` rounds on the
    * pre-aggregated (word, freq) VOCABULARY (freq-weighted pair counts
    * — the exact algorithm Spark's trainMerges runs, unlike q190's
    * deliberately-different instance-counting replay), then fertility
    * by applying the learned chain once per DISTINCT word and joining
    * the per-word costs back to per-language word frequencies.
    */
  private def deepFertilityOracleSql(steps: Int): String = {
    // MATERIALIZED is load-bearing at this depth: each s{t} is
    // referenced twice (pair counting + merge-back), so DuckDB's
    // default CTE inlining would expand the 64-step chain
    // exponentially (observed as thousands of re-opened parquet scans)
    val stepCtes = (1 to steps).map { t =>
      val a = s"string_split(b$t.pr, '|')[1]"
      val b = s"string_split(b$t.pr, '|')[2]"
      s"""p$t AS (SELECT unnest(${Bpe.pairsDuck}) AS pr, freq
               FROM (SELECT ${Bpe.symsDuck("s")} AS sy, freq FROM s${t - 1}) q$t),
             c$t AS (SELECT pr, sum(freq) AS cnt FROM p$t GROUP BY pr),
             b$t AS MATERIALIZED (SELECT pr, cnt FROM c$t ORDER BY cnt DESC, pr LIMIT 1),
             s$t AS MATERIALIZED (SELECT replace(s, ' ' || $a || '  ' || $b || ' ',
                 ' ' || $a || $b || ' ') AS s, freq FROM s${t - 1}, b$t)"""
    }
    val pivots = (1 to steps)
      .map(t =>
        s"string_split(b$t.pr, '|')[1] AS a$t, string_split(b$t.pr, '|')[2] AS b$t")
      .mkString(",\n                 ")
    val froms = (1 to steps).map(t => s"b$t").mkString(", ")
    val chain = (1 to steps).foldLeft(Bpe.wrapDuck("word")) { (acc, t) =>
      s"replace($acc, ' ' || a$t || '  ' || b$t || ' ', ' ' || a$t || b$t || ' ')"
    }
    s"""WITH t AS (SELECT lang, ${Tokenize.toksSql} AS toks FROM documents),
             wl AS MATERIALIZED (SELECT lang, unnest(toks) AS word FROM t),
             v AS (SELECT word, count(*) AS freq FROM wl GROUP BY word),
             s0 AS MATERIALIZED (SELECT ${Bpe.wrapDuck("word")} AS s, freq FROM v),
             ${stepCtes.mkString(cteSep)},
             m AS (SELECT $pivots FROM $froms),
             wc AS (SELECT word, CAST(${Bpe.symCountDuck(chain)} AS BIGINT) AS c
               FROM (SELECT DISTINCT word FROM wl) dw, m),
             g AS (SELECT lang, word, count(*) AS f FROM wl GROUP BY lang, word),
             r AS (SELECT g.lang AS lang, sum(g.f) AS nw, sum(g.f * wc.c) AS nb
               FROM g JOIN wc ON g.word = wc.word GROUP BY g.lang)
             SELECT lang, CAST(nw AS BIGINT) AS n_words, CAST(nb AS BIGINT) AS n_bpe,
               round(CAST(nb AS DOUBLE) / greatest(nw, 1), 6) AS fertility
             FROM r ORDER BY lang"""
  }

  /** q190's training loop as DuckDB CTEs — `WITH t, w, s0,
    * p1..c1..b1, ..., b$steps` where `b$t` is the step-t argmax
    * (pr, cnt) row (NOTE: deliberately an instance-counting replay,
    * not the Spark side's vocab pre-aggregation — the shared gate
    * proves the two counting schemes equivalent). ONE definition site
    * for q190's oracle and q194's train-then-apply oracle; a `def`
    * (not a val) so `entries`' eager interpolation always sees it
    * initialized.
    */
  private def trainCtesSql(steps: Int): String = {
    val stepCtes = (1 to steps).map { t =>
      val merge =
        if (t == steps) ""
        else {
          val a = s"string_split(b$t.pr, '|')[1]"
          val b = s"string_split(b$t.pr, '|')[2]"
          s""",
             s$t AS (SELECT replace(s, ' ' || $a || '  ' || $b || ' ',
                 ' ' || $a || $b || ' ') AS s FROM s${t - 1}, b$t)"""
        }
      s"""p$t AS (SELECT unnest(${Bpe.pairsDuck}) AS pr
               FROM (SELECT ${Bpe.symsDuck("s")} AS sy FROM s${t - 1}) q$t),
             c$t AS (SELECT pr, count(*) AS cnt FROM p$t GROUP BY pr),
             b$t AS (SELECT pr, cnt FROM c$t ORDER BY cnt DESC, pr LIMIT 1)$merge"""
    }
    s"""WITH t AS (SELECT ${Tokenize.toksSql} AS toks FROM documents),
             w AS (SELECT unnest(toks) AS word FROM t),
             s0 AS (SELECT ${Bpe.wrapDuck("word")} AS s FROM w),
             ${stepCtes.mkString(cteSep)}"""
  }
}
