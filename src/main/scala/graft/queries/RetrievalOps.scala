package graft.queries

import graft.{Engine, QueryDef}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleSql._

/** RETRIEVAL — the RAG stack's query-time surface over the corpus the
  * other modules curate and index: BM25 lexical ranking (q229),
  * hybrid lexical+vector reciprocal-rank fusion (q230 brute legs;
  * q244 over the SERVED dense leg — the persisted-index two-stage
  * request composed under [[rrfFuse]]), multi-vector MaxSim
  * late-interaction re-ranking (q232), pseudo-relevance-feedback
  * query expansion (q233), field-collapsed diversity top-k (q234),
  * exact-phrase ranking over positional postings (q242 from raw text;
  * q246 from the live [[positionalPostingsOf]] index), ordered
  * proximity / NEAR ranking (q251, [[proximityRank]]), and BATCHED
  * multi-query BM25 + hybrid system metrics (q252, [[bm25Batch]] —
  * the msearch shape, fused and graded per query) — the operations a
  * production retrieval deployment composes in front of an LLM,
  * expressed as the same oracle-gated Spark plans as the rest of the
  * engine. The scoring core ([[bm25Score]]) serves raw documents
  * ([[bm25Scored]]), a persisted postings index
  * ([[bm25FromPostings]] — q236/q237 stream-maintain and time-travel
  * it in StreamOps), and epoch-cached serving (q248,
  * [[termTfPushed]] + injected dl/stats).
  *
  * Scale notes (100 TB), per path:
  *  - BATCH (tokenize-then-score, [[bm25Scored]]): the per-doc tf
  *    aggregation covers the QUERY TERMS only — the broadcast term
  *    filter prunes the token stream BEFORE the tf shuffle — and the
  *    only full-stream aggregation is the per-doc length count (one
  *    narrow doc_id-keyed pass); df and collection stats are broadcast
  *    1-row/terms-row aggregates, ranking one TopK.
  *  - INDEX ([[bm25FromPostings]]): the (doc, word) tf aggregation was
  *    already paid ONCE at index-build time (postings ARE that
  *    aggregate, persisted); a request's term restriction prunes the
  *    index read to the query terms' key ranges, and the per-request
  *    residual cost is the dl/stats pass over the index — which a
  *    deployment caches per refresh epoch (q248 gates exactly that
  *    cached-epoch serving shape).
  *  The fusion stage joins two TOP-K LISTS (bounded, broadcast) —
  *  never the corpora. Cross-engine FP determinism follows q81's rule:
  *  ranks are taken over the ROUNDED score so a libm last-ulp
  *  difference in ln() can never flip an order the gate hashes.
  */
object RetrievalOps {

  /** BM25 (Okapi, Lucene's always-positive idf spelling) of every doc
    * in `docs` against the query-term set `terms` (a (word) frame):
    * score(d) = sum over matched terms of
    *   ln(1 + (N - df + 0.5)/(df + 0.5))
    *     * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    * with k1 = 1.2, b = 0.75, dl = |tokens(d)|, avgdl/N over `docs`.
    * Returns (doc_id, score) with score ROUNDED to 4dp — the rank
    * consumers order by the rounded value (q81's ulp rule). ONE
    * definition site for q229 (fixed keyword query), q230's lexical
    * leg (more-like-this terms), q233's two PRF rounds, and q234's
    * collapsed page; [[bm25Sql]] is its DuckDB mirror, arithmetic
    * textually identical so left-associative IEEE evaluation matches
    * term by term.
    */
  private def bm25Scored(docs: DataFrame, terms: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(Tokenize.toksExpr).as("word"))
    // the one full-stream pass is the narrow per-doc length count; the
    // (doc, word) tf aggregation sees the query terms ONLY — the
    // broadcast term filter prunes before that shuffle (the round-14
    // ADVICE regression: routing the batch path through postingsOf
    // aggregated the FULL vocabulary before the terms join, and
    // Catalyst cannot push a join below an aggregation)
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = tok
      .join(broadcast(terms), "word")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).cast("double").as("tf"))
    bm25Score(tf, dl, statsOf(dl))
  }

  /** The INVERTED-INDEX rows of a document frame: (doc_id, word, tf) —
    * exactly what a lexical index persists. [[bm25FromPostings]] needs
    * nothing else (dl = sum(tf) per doc), so postings ARE the complete
    * BM25 state; q236 appends them per micro-batch as LSM segments.
    */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(Tokenize.toksExpr).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** [[postingsOf]] with a POSITIONS column — the Lucene positional
    * segment: (doc_id, word, tf, positions), positions the sorted
    * 0-based token offsets of `word` in the doc. tf = len(positions),
    * kept materialized so the same segments answer BM25 through
    * [[bm25FromPostings]] unchanged (project the positions away) AND
    * phrase/proximity queries through [[phraseRank]] — one index for
    * both query classes (q246 stream-maintains it; the scaladoc claim
    * q242 made about "the postingsOf schema + a positions column, same
    * segments" is this function).
    */
  private[graft] def positionalPostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(Tokenize.toksExpr).as(Seq("p", "word")))
      .groupBy(col("doc_id"), col("word"))
      .agg(
        count(lit(1)).as("tf"),
        sort_array(collect_list(col("p"))).as("positions"))

  /** EXACT-PHRASE ranking over a positional-postings frame (doc_id,
    * word, tf, positions): each phrase term's occurrences are one
    * PRUNED index read (`word = term` pushes to the scan, so the
    * word-clustered segments stats-prune to that term's key range),
    * its positions explode shifted by the term's phrase offset, and
    * adjacency is the (n-1)-way equi-join on (doc_id, p) — a k-token
    * phrase is k pruned reads + (k-1) joins, never a per-doc scan
    * (q242's documented generalization). Matched positions count per
    * doc -> phrase tf -> positioned top-`topN` (rounded-free: counts
    * are integers, no FP anywhere).
    */
  private[graft] def phraseRank(post: DataFrame, phrase: Seq[String], topN: Int = 20): DataFrame = {
    val legs = phrase.zipWithIndex.map { case (w, i) =>
      post
        .filter(col("word") === w)
        .select(col("doc_id"), explode(col("positions")).as("p0"))
        .select(col("doc_id"), (col("p0") - i).as("p"))
    }
    val wR = Window.orderBy(col("n").desc, col("doc_id"))
    legs
      .reduce((a, b) => a.join(b, Seq("doc_id", "p")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("doc_id"))
      .limit(topN)
      .withColumn("rk", row_number().over(wR).cast("long"))
      .select(col("rk"), col("doc_id"), col("n"))
      .orderBy(col("rk"))
  }

  /** ORDERED PROXIMITY ranking over a positional-postings frame:
    * documents ranked by pairs (w1 before w2, gap <= `maxGap`) —
    * Lucene's sloppy PhraseQuery / the NEAR operator. Each term is one
    * key-range-pruned index read ([[phraseRank]]'s economics); the
    * pair match is the equi-join on doc_id with the gap as a range
    * predicate — within-doc pair enumeration is |positions(w1)| x
    * |positions(w2)| per doc, bounded by per-doc term frequency (the
    * same per-doc cost Lucene's sloppy matcher pays), never a
    * cross-corpus product.
    */
  private[graft] def proximityRank(
      post: DataFrame, w1: String, w2: String, maxGap: Int, topN: Int = 20): DataFrame = {
    val a = post
      .filter(col("word") === w1)
      .select(col("doc_id"), explode(col("positions")).as("pa"))
    val b = post
      .filter(col("word") === w2)
      .select(col("doc_id"), explode(col("positions")).as("pb"))
    val wR = Window.orderBy(col("n").desc, col("doc_id"))
    a.join(b, Seq("doc_id"))
      .filter(col("pb") - col("pa") >= 1 && col("pb") - col("pa") <= maxGap)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("doc_id"))
      .limit(topN)
      .withColumn("rk", row_number().over(wR).cast("long"))
      .select(col("rk"), col("doc_id"), col("n"))
      .orderBy(col("rk"))
  }

  /** Build-once persisted POSITIONAL postings index over
    * `{dir}/documents.parquet` — (word, doc_id)-clustered TieredIndex
    * of [[positionalPostingsOf]] rows, COMPLETE-marker committed and
    * idempotent per (process, sf-dir): the batch phrase/proximity
    * queries (q251) and repeated bench passes resolve the same
    * artifact instead of re-tokenizing the corpus.
    */
  private[graft] def buildPositionalIndex(s: SparkSession, dir: String): String = {
    val root = Engine.scratchDir("posidx", dir)
    val done = new java.io.File(root, "COMPLETE")
    if (!done.exists) {
      Engine.deleteRecursively(root)
      graft.operators.TieredIndex.create(
        s, s"$root/postings",
        positionalPostingsOf(Engine.table(s, dir, "documents")),
        4, Seq(col("word"), col("doc_id")))
      done.createNewFile(): Unit
    }
    s"$root/postings"
  }

  /** Build-once persisted STANDARD postings index over
    * `{dir}/documents.parquet` — [[buildPositionalIndex]]'s twin for
    * the (word, doc_id, tf) schema: the batched hybrid msearch (q263)
    * and ServeBench's lexical/hybrid request rows all serve from this
    * one artifact instead of each rebuilding it. COMPLETE-marker
    * committed, idempotent per (process, sf-dir).
    */
  private[graft] def buildPostingsIndex(s: SparkSession, dir: String): String = {
    val root = Engine.scratchDir("postidx", dir)
    val done = new java.io.File(root, "COMPLETE")
    if (!done.exists) {
      Engine.deleteRecursively(root)
      graft.operators.TieredIndex.create(
        s, s"$root/postings",
        postingsOf(Engine.table(s, dir, "documents")),
        4, Seq(col("word"), col("doc_id")))
      done.createNewFile(): Unit
    }
    s"$root/postings"
  }

  /** The serving-bench keyword vocabulary — ONE definition site for
    * ServeBench's single-request rows and the batched msearch (q263):
    * request r's 3-term keyword query is the rotating window
    * (r, r+1, r+2) over this list, so the batch path and the
    * one-at-a-time path price the SAME requests.
    */
  private[graft] val serveTerms: Seq[String] = Seq(
    "hash", "join", "spark", "table", "scan", "sort", "data", "stream", "batch",
    "window", "filter", "merge", "group", "query", "value", "fast", "slow",
    "key", "row", "agg")

  /** The N-request msearch batch's (qid, word) pairs — request r =
    * "more like vector r" dense leg + the [[serveTerms]] window
    * (r, r+1, r+2) lexical leg. A pure function of (r), so the oracle
    * replays the exact pairs as literals.
    */
  private[graft] def msearchQTerms(n: Int): Seq[(Int, String)] =
    for { r <- 0 until n; j <- 0 until 3 }
      yield (r, serveTerms((r + j) % serveTerms.length))

  /** RECIPROCAL-RANK FUSION of two positioned top-k legs (doc_id,
    * lex_rk) and (doc_id, vec_rk): score = sum of 1/(60 + rank) over
    * the legs a doc appears in (k = 60, the Cormack/Clarke constant),
    * fused page = positioned top-`topN` carrying both legs' ranks
    * (NULL where a doc surfaced in only one). ONE definition site for
    * q230 (brute legs), q244 (served dense leg), and q250 (both legs
    * LIVE). Spelled as union + one <= |legs| x k row aggregate — a
    * FULL OUTER join cannot broadcast and would sort-merge even two
    * bounded lists; this shape also scales to N legs.
    */
  private[graft] def rrfFuse(lex: DataFrame, vec: DataFrame, topN: Int = 10): DataFrame = {
    val wF = Window.orderBy(col("rrf").desc, col("doc_id"))
    lex
      .select(col("doc_id"), col("lex_rk"), lit(null).cast("long").as("vec_rk"))
      .unionAll(
        vec.select(col("doc_id"), lit(null).cast("long").as("lex_rk"), col("vec_rk")))
      .groupBy(col("doc_id"))
      .agg(max(col("lex_rk")).as("lex_rk"), max(col("vec_rk")).as("vec_rk"))
      .withColumn(
        "rrf",
        round(
          coalesce(lit(1.0) / (col("lex_rk") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("vec_rk") + 60), lit(0.0)),
          6))
      .withColumn("rk", row_number().over(wF).cast("long"))
      .filter(col("rk") <= topN)
      .select(col("rk"), col("doc_id"), col("rrf"), col("lex_rk"), col("vec_rk"))
      .orderBy(col("rk"))
  }

  /** [[rrfFuse]]'s KEYED form — N requests fused in ONE plan (qid
    * partitions every window): the q252 metrics gate and the batched
    * hybrid msearch (q263) both fuse through this one definition
    * site. Same union + bounded-aggregate spelling (<= |legs| x k x N
    * rows — still never a sort-merge), returning (qid, rk, doc_id,
    * rrf, lex_rk, vec_rk) pages.
    */
  private[graft] def rrfFuseKeyed(lex: DataFrame, vec: DataFrame, topN: Int = 10): DataFrame = {
    val wF = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("doc_id"))
    lex
      .select(col("qid"), col("doc_id"), col("lex_rk"), lit(null).cast("long").as("vec_rk"))
      .unionAll(vec.select(
        col("qid"), col("doc_id"), lit(null).cast("long").as("lex_rk"), col("vec_rk")))
      .groupBy(col("qid"), col("doc_id"))
      .agg(max(col("lex_rk")).as("lex_rk"), max(col("vec_rk")).as("vec_rk"))
      .withColumn(
        "rrf",
        round(
          coalesce(lit(1.0) / (col("lex_rk") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("vec_rk") + 60), lit(0.0)),
          6))
      .withColumn("rk", row_number().over(wF).cast("long"))
      .filter(col("rk") <= topN)
      .select(col("qid"), col("rk"), col("doc_id"), col("rrf"), col("lex_rk"), col("vec_rk"))
  }

  /** BM25 over a POSTINGS frame (doc_id, word, tf) — the incremental
    * path's entry point (q236 scores a live postings INDEX the stream
    * maintains). dl = sum(tf) per doc — integer-exact and identical to
    * counting the token stream, so the arithmetic (and the gate
    * hashes) matches [[bm25Scored]]'s term by term; both paths score
    * through the ONE [[bm25Score]] core, so they cannot drift.
    */
  private[graft] def bm25FromPostings(post: DataFrame, terms: DataFrame): DataFrame = {
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val tf = post
      .join(broadcast(terms), "word")
      .select(col("doc_id"), col("word"), col("tf").cast("double").as("tf"))
    bm25Score(tf, dl, statsOf(dl))
  }

  /** Collection stats (avgdl, n_docs) of a per-doc length frame —
    * split out so the cached-epoch serving shape (q248) can compute
    * them ONCE per refresh epoch and reuse across requests. Integer-
    * valued sums are exact in any accumulation order, so avgdl =
    * sum/count is bit-identical across engines.
    */
  private[graft] def statsOf(dl: DataFrame): DataFrame =
    dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).cast("double").as("n_docs"))

  /** A serving request's term-tf rows from a postings index, with the
    * terms as PUSHED LITERALS (`word IN (...)`) instead of a broadcast
    * join — the spelling that lets the word-clustered index segments
    * stats-prune to the query terms' key ranges at the Parquet scan
    * (a join restriction never reaches the scan). Same rows as the
    * join form, so scoring is unchanged; used by the cached-epoch
    * serve (q248) and the lexical ServeBench rows.
    */
  private[graft] def termTfPushed(post: DataFrame, words: Seq[String]): DataFrame =
    post
      .filter(col("word").isin(words: _*))
      .select(col("doc_id"), col("word"), col("tf").cast("double").as("tf"))

  /** [[bm25FromPostings]] with the request's terms as PUSHED LITERALS
    * ([[termTfPushed]]) instead of a broadcast join — same rows, same
    * [[bm25Score]] arithmetic (the literal list must be the terms
    * frame's exact distinct word set, which [[termsLiteral]] fetches),
    * but the tf leg's predicate reaches the word-clustered postings
    * scan and row-group-prunes to the terms' key ranges — a join
    * restriction never reaches the scan (the ServeBench-measured 3.4x
    * gap). The dl/stats pass is unchanged: collection stats are a
    * property of the FULL live index by definition.
    */
  private[graft] def bm25FromPostingsPushed(post: DataFrame, words: Seq[String]): DataFrame = {
    val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    bm25Score(termTfPushed(post, words), dl, statsOf(dl))
  }

  /** A request's DISTINCT term set as a bounded driver-side literal
    * list — the [[graft.queries.SimilarityOps.probedCcids]] precedent
    * (a 1-row-aggregate fetch, never a data collect): the streaming
    * lifecycles serve ONE fixed request across every micro-batch, so
    * the terms are pulled once per lifecycle and pushed to each
    * batch's postings scan as `word IN (...)` literals. Sorted for a
    * deterministic plan string.
    */
  private[graft] def termsLiteral(terms: DataFrame): Seq[String] =
    terms
      .agg(sort_array(collect_set(col("word"))).as("ws"))
      .head()
      .getSeq[String](0)

  /** BATCHED MULTI-QUERY BM25 — every production retriever's request
    * shape (N queries scored in one pass, Vespa/ES msearch): `qterms`
    * is (qid, word), and the result is (qid, doc_id, score) for every
    * (query, matching doc) pair. The pruning survives batching: the
    * token stream is semi-joined against the batch's DISTINCT word set
    * (broadcast) BEFORE the tf shuffle, so the per-doc tf aggregation
    * covers the batch's terms only; df is per WORD over matched docs
    * (computed before the per-qid fan-out — duplicating tf rows across
    * qids first would inflate it); dl/stats are the same corpus-level
    * passes as the single-query path. Arithmetic is [[bm25Score]]'s
    * term by term ([[bm25BatchSql]] mirrors it), grouped by (qid, doc).
    */
  private[graft] def bm25Batch(docs: DataFrame, qterms: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(Tokenize.toksExpr).as("word"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val words = qterms.select(col("word")).distinct()
    val tf = tok
      .join(broadcast(words), "word")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(qterms), "word")
      .join(broadcast(dfreq), "word")
      .crossJoin(broadcast(statsOf(dl)))
      .join(dl, "doc_id")
      .withColumn(
        "c",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("c")), 4).as("score"))
  }

  /** Document lengths `{p}dl` of the tokens `{p}tok`, and the corpus
    * stats `{p}stats` (avgdl, n_docs): shared by both BM25 mirrors.
    */
  private def bm25StatsCtes(p: String): String =
    s"""${p}dl AS (SELECT doc_id, count(*) AS dl FROM ${p}tok GROUP BY doc_id),
             ${p}stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
               CAST(count(*) AS DOUBLE) AS n_docs FROM ${p}dl)"""

  /** The Okapi sum over term rows `t`, df `d`, stats `s` and lengths
    * `l`, rounded to 4dp ([[bm25Score]]'s arithmetic term by term).
    */
  private def bm25ScoreSql: String =
    """round(sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * 2.2
                   / (t.tf + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))), 4) AS score"""

  /** [[bm25Batch]]'s DuckDB mirror: CTEs {p}tok/{p}dl/{p}stats/{p}qt/
    * {p}tf/{p}df ending in `{p}scored` (qid, doc_id, score), over
    * document relation `docsRel` and query-terms CTE `qtermsCte`
    * (columns qid, word). A def — eager oracle interpolation rule.
    */
  private[graft] def bm25BatchSql(docsRel: String, qtermsCte: String, p: String = "h"): String =
    s"""${p}tok AS (SELECT doc_id, unnest(${Tokenize.toksSql}) AS word FROM $docsRel),
             ${p}qt AS ($qtermsCte),
             ${bm25StatsCtes(p)},
             ${p}tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
               FROM ${p}tok JOIN (SELECT DISTINCT word FROM ${p}qt) USING (word)
               GROUP BY doc_id, word),
             ${p}df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM ${p}tf GROUP BY word),
             ${p}scored AS (SELECT q.qid, t.doc_id,
                 $bm25ScoreSql
               FROM ${p}tf t JOIN ${p}qt q USING (word) JOIN ${p}df d USING (word)
               CROSS JOIN ${p}stats s
               JOIN ${p}dl l ON t.doc_id = l.doc_id
               GROUP BY q.qid, t.doc_id)"""

  /** THE BM25 scoring core — one definition site for the batch path
    * ([[bm25Scored]]), the index path ([[bm25FromPostings]]), and the
    * cached-epoch serve (q248, which injects epoch-materialized
    * dl/stats): per-term df over the term-tf rows, broadcast stats,
    * the Okapi term contribution, per-doc sum rounded to 4dp (the
    * q81 ulp rule).
    */
  private[graft] def bm25Score(tf: DataFrame, dl: DataFrame, stats: DataFrame): DataFrame = {
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(stats))
      .join(dl, "doc_id")
      .withColumn(
        "c",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("c")), 4).as("score"))
  }

  /** [[bm25Score]]'s KEYED serving form — the msearch lexical leg
    * from a postings INDEX (q263): `tfw` is the batch's term-tf rows
    * (from [[termTfPushed]] — the batch's DISTINCT word set goes down
    * as ONE pushed `word IN (...)` literal list, so the whole
    * N-request batch pays ONE key-range-pruned postings scan), df is
    * per word over those rows (computed BEFORE the per-qid fan-out —
    * fanning out first would inflate it, [[bm25Batch]]'s rule), the
    * Okapi contribution `c` is per (word, doc) — also computed before
    * the fan-out, so the broadcast `qterms` join only routes finished
    * contributions to requests — and the final sum groups by (qid,
    * doc). dl/stats arrive epoch-materialized (q248's amortization:
    * one corpus pass serves every request of the epoch, batch or
    * not). Same arithmetic as [[bm25Score]] term by term.
    */
  private[graft] def bm25ScoreKeyed(
      tfw: DataFrame, qterms: DataFrame, dl: DataFrame, stats: DataFrame): DataFrame = {
    val dfreq = tfw.groupBy(col("word")).agg(count(lit(1)).cast("double").as("df"))
    tfw.join(broadcast(dfreq), "word")
      .crossJoin(broadcast(stats))
      .join(dl, "doc_id")
      .withColumn(
        "c",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
      .join(broadcast(qterms), "word")
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("c")), 4).as("score"))
  }

  /** [[bm25Scored]]'s DuckDB mirror: CTEs {p}tok/{p}dl/{p}stats/{p}tf/
    * {p}df ending in `{p}scored` (doc_id, score), over document
    * relation `docsRel` (must expose doc_id + text) and term CTE
    * `termsCte` (one `word` column). The prefix `p` (default "b")
    * lets one oracle chain TWO BM25 rounds (q233's pseudo-relevance
    * feedback re-ranks with a second, expanded-term round). A def —
    * eager oracle interpolation rule.
    */
  private[graft] def bm25Sql(docsRel: String, termsCte: String, p: String = "b"): String =
    s"""${p}tok AS (SELECT doc_id, unnest(${Tokenize.toksSql}) AS word FROM $docsRel),
             ${p}terms AS ($termsCte),
             ${bm25StatsCtes(p)},
             ${p}tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
               FROM ${p}tok JOIN ${p}terms USING (word) GROUP BY doc_id, word),
             ${p}df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM ${p}tf GROUP BY word),
             ${p}scored AS (SELECT t.doc_id,
                 $bm25ScoreSql
               FROM ${p}tf t JOIN ${p}df d USING (word) CROSS JOIN ${p}stats s
               JOIN ${p}dl l ON t.doc_id = l.doc_id
               GROUP BY t.doc_id)"""

  /** The keyed-fusion oracle fragment shared by q252 (which grades the
    * fused pages into MRR/nDCG) and q263 (which gates the pages
    * themselves): lexical top-20 per qid from `hscored` (self
    * excluded), dense top-20 from `wsrv`, RRF with the 6dp round —
    * [[rrfFuseKeyed]]'s DuckDB mirror ending at `hfused`. A def —
    * eager oracle interpolation rule.
    */
  private[graft] def hybridKeyedFuseCtesSql: String =
    """hlex AS (SELECT qid, doc_id, lex_rk FROM (SELECT qid, doc_id,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS lex_rk
               FROM hscored WHERE qid <> doc_id) WHERE lex_rk <= 20),
             hvec AS (SELECT qid, vec_id AS doc_id, rn AS vec_rk FROM wsrv WHERE rn <= 20),
             hfused AS (SELECT coalesce(l.qid, v.qid) AS qid,
                 coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rk, v.vec_rk,
                 round(coalesce(CAST(1 AS DOUBLE) / (l.lex_rk + 60), 0)
                   + coalesce(CAST(1 AS DOUBLE) / (v.vec_rk + 60), 0), 6) AS rrf
               FROM hlex l FULL OUTER JOIN hvec v
                 ON l.qid = v.qid AND l.doc_id = v.doc_id)"""

  val entries: Seq[QueryDef] = Seq(
    // --------------------------------------------------------------- q229
    // BM25 LEXICAL RANKING — the sparse half of every production
    // retrieval stack (Okapi BM25, Lucene's always-positive idf),
    // gated end to end: a fixed 3-term keyword query ranks the corpus,
    // positioned top-20 with the rounded score. Plan shape at scale:
    // the term filter (a broadcast semi-join against the 3-row query)
    // prunes the token stream BEFORE the tf shuffle, df/collection
    // stats are broadcast 1-row aggregates, and the final rank is one
    // TopK over docs that matched at least one term — no corpus-wide
    // sort, no unfiltered shuffle. Ranks order by the ROUNDED score
    // (q81's rule) so libm ulp noise in ln() cannot flip the gate.
    QueryDef(
      "q229_bm25_rank",
      (s, dir) => {
        import s.implicits._
        val terms = Seq("hash", "join", "spark").toDF("word")
        // distributed top-k FIRST (TakeOrderedAndProject — never a
        // corpus-wide single-partition window), then position the 20
        // survivors
        val w = Window.orderBy(col("score").desc, col("doc_id"))
        bm25Scored(Engine.table(s, dir, "documents"), terms)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
          .withColumn("rk", row_number().over(w).cast("long"))
          .select(col("rk"), col("doc_id"), col("score"))
          .orderBy(col("rk"))
      },
      Some(s"""WITH ${bm25Sql(
          "documents",
          "SELECT unnest(['hash', 'join', 'spark']) AS word")},
             r AS (SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM bscored)
             SELECT CAST(rk AS BIGINT) AS rk, doc_id, score FROM r
             WHERE rk <= 20 ORDER BY rk""")
    ),
    // --------------------------------------------------------------- q230
    // HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION — the canonical
    // two-tower RAG request ("find documents like document 7"), gated
    // in one query: the SPARSE leg runs BM25 over the indexed subset
    // (docs that carry an embedding) with the query document's own
    // distinct tokens as terms (more-like-this), the DENSE leg ranks
    // by exact integer-L2 distance from the query document's
    // embedding (micro-unit vectors — zero FP on this side), each leg
    // keeps its positioned top-20, and RRF fuses them:
    // score = sum over legs of 1/(60 + rank), the parameter-free
    // fusion every hybrid search deployment starts from (k=60, the
    // original Cormack/Clarke constant). Output: fused top-10 with
    // both legs' ranks (NULL where a doc appeared in only one leg —
    // fusion rewarding agreement is the gated observable). At scale
    // each leg is its own pruned retrieval (BM25: filtered token agg;
    // ANN: the q216 serve path would replace the brute leg) and the
    // fusion joins two 20-row broadcast lists — request cost is the
    // legs, fusion is free.
    QueryDef(
      "q230_hybrid_rrf",
      (s, dir) => {
        val docs = Engine.table(s, dir, "documents")
        val ids = Engine.table(s, dir, "embeddings").select(col("vec_id"))
        // the indexed subset: at sf0.1+ only a prefix of doc_ids carry
        // embeddings — hybrid retrieval serves what both legs cover
        val uni = docs.join(ids, docs("doc_id") === ids("vec_id"), "left_semi")
        val qTerms = uni
          .filter(col("doc_id") === 7)
          .select(explode(Tokenize.toksExpr).as("word"))
          .distinct()
        // each leg: distributed top-20 first, then position (the
        // single-partition window only ever sees 20 rows)
        val wL = Window.orderBy(col("score").desc, col("doc_id"))
        val lex = bm25Scored(uni, qTerms)
          .filter(col("doc_id") =!= 7)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
          .withColumn("lex_rk", row_number().over(wL).cast("long"))
          .select(col("doc_id"), col("lex_rk"))
        val iv = SimilarityOps.ivecs(s, dir)
        val q7 = iv.filter(col("vec_id") === 7).select(col("iv").as("qiv"))
        val wV = Window.orderBy(col("d"), col("doc_id"))
        val vec = iv
          .filter(col("vec_id") =!= 7)
          .crossJoin(broadcast(q7))
          .select(
            col("vec_id").as("doc_id"),
            graft.functions.VectorOps.l2sqLong(col("iv"), col("qiv")).as("d"))
          .orderBy(col("d"), col("doc_id"))
          .limit(20)
          .withColumn("vec_rk", row_number().over(wV).cast("long"))
          .select(col("doc_id"), col("vec_rk"))
        rrfFuse(lex, vec)
      },
      Some(s"""WITH uni AS (
               SELECT d.doc_id, d.text FROM documents d
               WHERE d.doc_id IN (SELECT vec_id FROM embeddings)),
             ${bm25Sql("uni", doc7Terms)},
             ${lexTop20Cte("lex", "bscored")},
             $intVecCte,
             q7 AS (SELECT iv AS qiv FROM t WHERE vec_id = 7),
             vd AS (SELECT x.vec_id AS doc_id,
                 ${l2sq("x.iv", "q.qiv")} AS d
               FROM t x CROSS JOIN q7 q WHERE x.vec_id <> 7),
             vec AS (SELECT doc_id, vec_rk FROM (
                 SELECT doc_id, row_number() OVER (ORDER BY d, doc_id) AS vec_rk FROM vd)
               WHERE vec_rk <= 20),
             ${rrfFusedCte("")},
             r AS (SELECT doc_id, rrf, lex_rk, vec_rk,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk FROM fused)
             SELECT CAST(rk AS BIGINT) AS rk, doc_id, rrf,
               CAST(lex_rk AS BIGINT) AS lex_rk, CAST(vec_rk AS BIGINT) AS vec_rk
             FROM r WHERE rk <= 10 ORDER BY rk""")
    ),
    // --------------------------------------------------------------- q232
    // MULTI-VECTOR LATE INTERACTION (MaxSim re-rank) — the ColBERT
    // scoring model: query and document are each a BAG of vectors,
    // and the score is, for every query vector, the MAX similarity
    // over the document's vectors, summed over query vectors — token-
    // level matching that single-vector retrieval averages away. The
    // per-doc bags here are the embedding's 4 contiguous 16-dim
    // sub-vectors (the corpus carries one vector per doc; the split
    // exercises the real kernel with deterministic bags), centered
    // micro-unit integers so every dot product is EXACT BIGINT in
    // both engines — the one scoring kernel with no FP story at all.
    // Deployed shape: first stage retrieves top-16 candidates by
    // whole-vector distance (the bounded leg — q216's serve path is
    // the drop-in replacement at scale, exactly as in q230), MaxSim
    // re-ranks only those — the stage split that makes late
    // interaction affordable (PLAID/ColBERTv2): the O(|q-vecs| x
    // |d-vecs|) kernel runs on 16 docs per query, never the corpus.
    QueryDef(
      "q232_maxsim_rerank",
      (s, dir) => {
        val iv = SimilarityOps.ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val wB = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
        val cand = broadcast(q)
          .join(iv, col("qid") =!= col("vec_id"))
          .select(
            col("qid"), col("vec_id"),
            graft.functions.VectorOps.l2sqLong(col("qiv"), col("iv")).as("d"))
          .withColumn("rn", row_number().over(wB))
          .filter(col("rn") <= 16)
          .select(col("qid"), col("vec_id"))
        // centered (offset-free) micro-int vectors: dot products don't
        // cancel an affine offset the way L2 does, so the MaxSim
        // kernel reads the raw micro-units
        val civ = Engine.table(s, dir, "embeddings")
          .select(
            col("vec_id"),
            expr("transform(cast(embedding as array<double>), " +
              "x -> cast(floor(x * 1000000 + 0.5d) as bigint))").as("civ"))
        val sub = explode(expr(
          "transform(sequence(0, 3), m -> named_struct('m', m, 'sv', slice(civ, m * 16 + 1, 16)))"))
        val qs = civ
          .filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), sub.as("x"))
          .select(col("qid"), col("x.m").as("qm"), col("x.sv").as("qsv"))
        val ds = broadcast(cand)
          .join(civ, "vec_id")
          .select(col("qid"), col("vec_id"), sub.as("x"))
          .select(col("qid"), col("vec_id"), col("x.sv").as("dsv"))
        val wR = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
        ds.join(broadcast(qs), "qid")
          .select(
            col("qid"), col("vec_id"), col("qm"),
            expr("aggregate(zip_with(qsv, dsv, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
              .as("dot"))
          .groupBy(col("qid"), col("vec_id"), col("qm"))
          .agg(max(col("dot")).as("mx"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("mx")).as("sim"))
          .withColumn("rk", row_number().over(wR).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("rk"), col("vec_id"), col("sim"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH $intVecCte,
             c AS (SELECT vec_id, list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS civ
               FROM embeddings),
             wq AS (SELECT vec_id AS qid, iv AS qiv FROM t WHERE vec_id < 5),
             bd AS (SELECT q.qid, x.vec_id,
                 ${l2sq("q.qiv", "x.iv")} AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             ${knnTopK("cand", "d", "bd", 16)},
             qs AS (SELECT vec_id AS qid, mm.m AS qm,
                 list_slice(civ, mm.m * 16 + 1, mm.m * 16 + 16) AS qsv
               FROM c, (SELECT unnest(generate_series(0, 3)) AS m) mm WHERE vec_id < 5),
             ds AS (SELECT cd.qid, cd.vec_id,
                 list_slice(c.civ, mm.m * 16 + 1, mm.m * 16 + 16) AS dsv
               FROM cand cd JOIN c ON cd.vec_id = c.vec_id,
                 (SELECT unnest(generate_series(0, 3)) AS m) mm),
             dt AS (SELECT q.qid, d.vec_id, q.qm,
                 max(list_sum(list_transform(generate_series(1, len(q.qsv)),
                   j -> q.qsv[j] * d.dsv[j]))) AS mx
               FROM qs q JOIN ds d ON q.qid = d.qid
               GROUP BY q.qid, d.vec_id, q.qm),
             ms AS (SELECT qid, vec_id, CAST(sum(mx) AS BIGINT) AS sim
               FROM dt GROUP BY qid, vec_id)
             SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, sim FROM (
               SELECT qid, vec_id, sim,
                 row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk FROM ms) r
             WHERE rk <= 5 ORDER BY qid, rk""")
    ),
    // --------------------------------------------------------------- q233
    // PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (Rocchio/RM3 family) —
    // the classic lexical recall lever: run the keyword query, take
    // the top-10 FEEDBACK documents, mine the 5 terms that occur most
    // often in them (excluding the originals; ties by word — fully
    // deterministic), and re-run BM25 with the expanded term set. Two
    // complete BM25 rounds through the ONE bm25Scored definition site
    // (the oracle chains two prefixed bm25Sql expansions), so the
    // expansion loop is gated end to end: a different feedback set, a
    // different mined term, or a drifted second-round score all fail
    // the hash. At scale: round 1 is q229's pruned shape; the term
    // mining aggregates ONLY the 10 feedback docs' tokens (broadcast
    // semi-join); round 2 is q229's shape again with 8 terms — the
    // whole expansion costs one extra bounded aggregate between two
    // ordinary BM25 passes.
    QueryDef(
      "q233_rm3_expansion",
      (s, dir) => {
        import s.implicits._
        val docs = Engine.table(s, dir, "documents")
        val terms0 = Seq("hash", "join", "spark").toDF("word")
        val fb = bm25Scored(docs, terms0)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
          .select(col("doc_id"))
        val tok = docs.select(col("doc_id"), explode(Tokenize.toksExpr).as("word"))
        val exp = tok
          .join(broadcast(fb), "doc_id")
          .filter(!col("word").isin("hash", "join", "spark"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("ftf"))
          .orderBy(col("ftf").desc, col("word"))
          .limit(5)
          .select(col("word"))
        val w = Window.orderBy(col("score").desc, col("doc_id"))
        bm25Scored(docs, terms0.unionAll(exp))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
          .withColumn("rk", row_number().over(w).cast("long"))
          .select(col("rk"), col("doc_id"), col("score"))
          .orderBy(col("rk"))
      },
      Some(s"""WITH ${bm25Sql(
          "documents",
          "SELECT unnest(['hash', 'join', 'spark']) AS word")},
             fb AS (SELECT doc_id FROM (SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM bscored)
               WHERE rn <= 10),
             exp AS (SELECT word FROM (SELECT k.word,
                 row_number() OVER (ORDER BY count(*) DESC, k.word) AS rn
               FROM btok k JOIN fb USING (doc_id)
               WHERE k.word NOT IN ('hash', 'join', 'spark')
               GROUP BY k.word) WHERE rn <= 5),
             ${bm25Sql(
          "documents",
          "SELECT word FROM exp UNION ALL SELECT unnest(['hash', 'join', 'spark']) AS word",
          "e")},
             r AS (SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM escored)
             SELECT CAST(rk AS BIGINT) AS rk, doc_id, score FROM r
             WHERE rk <= 20 ORDER BY rk""")
    ),
    // --------------------------------------------------------------- q234
    // FIELD-COLLAPSED TOP-K — result diversification by source
    // (Elasticsearch's `collapse`, Vespa's grouping): the BM25 ranking
    // capped at 2 results PER SOURCE before the global top-10, so one
    // prolific source cannot monopolize the page — the diversity
    // contract every multi-tenant retrieval deployment ships. Output
    // carries both ranks (src_rk = position within the source) so the
    // cap itself is the gated observable. At scale: the collapse is a
    // per-group top-k (WindowGroupLimit — partial per partition, no
    // global sort), the final cut one TakeOrdered over the survivors;
    // against 100 TB the plan reads exactly like q229 plus one bounded
    // window.
    QueryDef(
      "q234_collapsed_topk",
      (s, dir) => {
        import s.implicits._
        val docs = Engine.table(s, dir, "documents")
        val terms = Seq("hash", "join", "spark").toDF("word")
        val wS = Window.partitionBy(col("source")).orderBy(col("score").desc, col("doc_id"))
        val w = Window.orderBy(col("score").desc, col("doc_id"))
        bm25Scored(docs, terms)
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
          .withColumn("src_rk", row_number().over(wS).cast("long"))
          .filter(col("src_rk") <= 2)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
          .withColumn("rk", row_number().over(w).cast("long"))
          .select(col("rk"), col("doc_id"), col("source"), col("src_rk"), col("score"))
          .orderBy(col("rk"))
      },
      Some(s"""WITH ${bm25Sql(
          "documents",
          "SELECT unnest(['hash', 'join', 'spark']) AS word")},
             sc AS (SELECT b.doc_id, d.source, b.score,
                 row_number() OVER (PARTITION BY d.source
                   ORDER BY b.score DESC, b.doc_id) AS src_rk
               FROM bscored b JOIN documents d USING (doc_id)),
             r AS (SELECT doc_id, source, src_rk, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rk
               FROM sc WHERE src_rk <= 2)
             SELECT CAST(rk AS BIGINT) AS rk, doc_id, source,
               CAST(src_rk AS BIGINT) AS src_rk, score
             FROM r WHERE rk <= 10 ORDER BY rk""")
    ),
    // --------------------------------------------------------------- q242
    // PHRASE RANKING over POSITIONAL POSTINGS — the query class plain
    // BM25 cannot answer (Lucene PhraseQuery, every search engine's
    // quoted-string operator): rank documents by occurrences of the
    // EXACT phrase "table hash", matched by position adjacency. The
    // plan is the real positional-postings shape: each term's
    // (doc_id, position) list is extracted with the term filter pushed
    // BEFORE any shuffle (at scale these lists come straight from a
    // positional inverted index — [[positionalPostingsOf]]'s schema;
    // q246 persists it and answers the phrase FROM the live index
    // through [[phraseRank]]), and the phrase match is an equi-join on
    // (doc_id, position) with the second term's positions shifted by
    // one — adjacency as a join key, never a per-doc scan. Counting
    // matched positions per doc gives phrase tf; the page is one
    // distributed top-k. Generalizes to n-gram phrases (n-1 shifted
    // joins) and to proximity windows (band join on the position gap).
    QueryDef(
      "q242_phrase_rank",
      (s, dir) => {
        val tok = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), posexplode(Tokenize.toksExpr).as(Seq("p", "w")))
        val w1 = tok.filter(col("w") === "table").select(col("doc_id"), col("p"))
        val w2 = tok.filter(col("w") === "hash").select(col("doc_id"), (col("p") - 1).as("p"))
        val wR = Window.orderBy(col("n").desc, col("doc_id"))
        w1.join(w2, Seq("doc_id", "p"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("doc_id"))
          .limit(20)
          .withColumn("rk", row_number().over(wR).cast("long"))
          .select(col("rk"), col("doc_id"), col("n"))
          .orderBy(col("rk"))
      },
      Some(s"""WITH tl AS (SELECT doc_id, ${Tokenize.toksSql} AS toks FROM documents),
             ex AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS j FROM tl),
             ph AS (SELECT e.doc_id FROM ex e JOIN tl t USING (doc_id)
               WHERE t.toks[e.j] = 'table' AND t.toks[e.j + 1] = 'hash'),
             cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ph GROUP BY doc_id),
             r AS (SELECT doc_id, n, row_number() OVER (ORDER BY n DESC, doc_id) AS rk FROM cnt)
             SELECT CAST(rk AS BIGINT) AS rk, doc_id, n FROM r
             WHERE rk <= 20 ORDER BY rk""")
    ),
    // --------------------------------------------------------------- q244
    // HYBRID RRF OVER THE SERVED DENSE LEG — q230's fusion with its
    // brute-scan stand-in replaced by the REAL serving path (round-14
    // verdict #1: every RAG request is hybrid-over-INDEX, and the
    // fusion operator had only ever seen the brute leg): the dense leg
    // is the complete two-stage request against the persisted deep
    // (256, 2) artifact at the q220-tuned nprobe=4 — pruned-scan ADC
    // probe (pushed `ccid IN (...)` literals, plan-pinned) -> top-32
    // candidates -> exact integer-L2 re-rank -> positioned top-20 —
    // while the sparse leg stays q230's more-like-this BM25 over the
    // indexed subset. RRF fuses the two positioned lists exactly as
    // q230 (union + <= 40-row aggregate, k = 60). The gated observable
    // is END-TO-END SYSTEM behavior: index approximation error (probe
    // misses) flows through the fusion into the page, exactly what a
    // deployment ships — the oracle replays the full train + probe +
    // re-rank chain into the fusion CTEs, so a single mis-served
    // neighbor fails the hash. At scale the dense leg reads
    // nprobe/|cells| of the codes artifact per request and the fusion
    // stays free; the page cost IS the two legs' cost.
    QueryDef(
      "q244_hybrid_rrf_served",
      (s, dir) => {
        val S = SimilarityOps
        val idx = S.buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val docs = Engine.table(s, dir, "documents")
        val ids = Engine.table(s, dir, "embeddings").select(col("vec_id"))
        val uni = docs.join(ids, docs("doc_id") === ids("vec_id"), "left_semi")
        val qTerms = uni
          .filter(col("doc_id") === 7)
          .select(explode(Tokenize.toksExpr).as("word"))
          .distinct()
        val wL = Window.orderBy(col("score").desc, col("doc_id"))
        val lex = bm25Scored(uni, qTerms)
          .filter(col("doc_id") =!= 7)
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
          .withColumn("lex_rk", row_number().over(wL).cast("long"))
          .select(col("doc_id"), col("lex_rk"))
        val iv = S.ivecs(s, dir)
        val q7 = iv
          .filter(col("vec_id") === 7)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        // the served leg: one production request (self excluded by the
        // serve path itself), rn IS the dense rank
        val vec = S.ivfadcServe(s, idx, q7, iv, k = 256, nprobe = 4, candN = 32, topN = 20)
          .select(col("vec_id").as("doc_id"), col("rn").as("vec_rk"))
        rrfFuse(lex, vec)
      },
      Some(s"""${SimilarityOps.ivfadcServeCtesSql(nprobe = 4, candN = 32)},
             uni AS (
               SELECT d.doc_id, d.text FROM documents d
               WHERE d.doc_id IN (SELECT vec_id FROM embeddings)),
             ${bm25Sql("uni", doc7Terms)},
             ${lexTop20Cte("lex", "bscored")},
             vec AS (SELECT vec_id AS doc_id, rn AS vec_rk FROM wsrv
               WHERE qid = 7 AND rn <= 20),
             ${rrfFusedCte("")},
             fr AS (SELECT doc_id, rrf, lex_rk, vec_rk,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rk FROM fused)
             SELECT CAST(rk AS BIGINT) AS rk, doc_id, rrf,
               CAST(lex_rk AS BIGINT) AS lex_rk, CAST(vec_rk AS BIGINT) AS vec_rk
             FROM fr WHERE rk <= 10 ORDER BY rk""")
    ),
    // --------------------------------------------------------------- q251
    // ORDERED PROXIMITY RANKING from the PERSISTED positional index —
    // Lucene's sloppy PhraseQuery / the NEAR operator, the query class
    // between exact phrase (gap = 1, q242/q246) and bag-of-words
    // (gap = infinity, BM25): rank documents by occurrences of "hash"
    // followed by "table" within 4 tokens. Served FROM the build-once
    // positional TieredIndex (buildPositionalIndex — the q246 schema
    // as a batch artifact): each term is one key-range-pruned read
    // (EqualTo(word, t) pushed to the clustered scan), and the gap
    // match is the doc_id equi-join with the position delta as a
    // range predicate — within-doc pair enumeration is bounded by
    // per-doc term frequency, the same per-doc cost Lucene's sloppy
    // matcher pays, never a corpus product. Oracle recomputes from
    // raw text, so a mis-sorted positions list or a stale index row
    // fails the hash.
    QueryDef(
      "q251_proximity_rank",
      (s, dir) => {
        val post = graft.operators.TieredIndex.read(s, buildPositionalIndex(s, dir))
        proximityRank(post, "hash", "table", maxGap = 4)
      },
      Some(s"""WITH tl AS (SELECT doc_id, ${Tokenize.toksSql} AS toks FROM documents),
             ja AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS j FROM tl),
             pa AS (SELECT e.doc_id, e.j FROM ja e JOIN tl t USING (doc_id)
               WHERE t.toks[e.j] = 'hash'),
             pb AS (SELECT e.doc_id, e.j FROM ja e JOIN tl t USING (doc_id)
               WHERE t.toks[e.j] = 'table'),
             pr AS (SELECT a.doc_id FROM pa a JOIN pb b
               ON a.doc_id = b.doc_id AND b.j - a.j BETWEEN 1 AND 4),
             cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY doc_id),
             r AS (SELECT doc_id, n, row_number() OVER (ORDER BY n DESC, doc_id) AS rk FROM cnt)
             SELECT CAST(rk AS BIGINT) AS rk, doc_id, n FROM r
             WHERE rk <= 20 ORDER BY rk""")
    ),
    // --------------------------------------------------------------- q252
    // HYBRID SYSTEM METRICS — the evaluation a hybrid deployment
    // actually publishes: MRR/nDCG@10 of the FUSED page, per query,
    // over the full 20-query contract. Composes the round's whole
    // retrieval surface end to end: the sparse leg is BATCHED
    // multi-query BM25 (bm25Batch — all 20 more-like-this requests
    // scored in ONE pass, the msearch shape; the batch's distinct
    // term set prunes the token stream before the tf shuffle), the
    // dense leg is the two-stage request against the persisted deep
    // artifact (nprobe=4, top-32 -> exact re-rank -> top-20, all 20
    // queries in one serve), RRF fuses per query (the keyed form of
    // rrfFuse), and the fused top-10 is graded against labels with
    // the shared-literal discount table and the left-join
    // zero-relevant contract. One number series for "is hybrid
    // beating either leg" — the ablation every RAG team runs
    // (PERF.md ledgers fused vs q245's dense-only). At scale: one
    // batched lexical pass + one batched ANN serve + bounded fusion/
    // grading joins — request count amortizes everything.
    QueryDef(
      "q252_hybrid_system_metrics",
      (s, dir) => {
        val S = SimilarityOps
        val idx = S.buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val docs = Engine.table(s, dir, "documents")
        val emb = Engine.table(s, dir, "embeddings")
        val uni = docs.join(
          emb.select(col("vec_id")), docs("doc_id") === col("vec_id"), "left_semi")
        val qterms = docs
          .filter(col("doc_id") < 20)
          .select(col("doc_id").as("qid"), explode(Tokenize.toksExpr).as("word"))
          .distinct()
        val wL = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
        val lex = bm25Batch(uni, qterms)
          .filter(col("qid") =!= col("doc_id"))
          .withColumn("lex_rk", row_number().over(wL).cast("long"))
          .filter(col("lex_rk") <= 20)
          .select(col("qid"), col("doc_id"), col("lex_rk"))
        val iv = S.ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val vec = S.ivfadcServe(s, idx, q, iv, k = 256, nprobe = 4, candN = 32, topN = 20)
          .select(col("qid"), col("vec_id").as("doc_id"), col("rn").as("vec_rk"))
        // keyed RRF through the ONE fusion site (q263's msearch pages
        // fuse through the same helper — the metric gate and the page
        // gate cannot drift)
        val fused = rrfFuseKeyed(lex, vec)
          .select(col("qid"), col("doc_id").as("vec_id"), col("rk").as("p"))
        val lab = emb.select(col("vec_id"), col("label").cast("long").as("label"))
        val qlab = lab
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"))
        S.rankingMetrics(fused, qlab, lab).orderBy(col("qid"))
      },
      Some(s"""${SimilarityOps.ivfadcServeCtesSql(nprobe = 4, candN = 32)},
             $uniCte,
             ${bm25BatchSql(
            "uni",
            "SELECT DISTINCT doc_id AS qid, unnest(" + Tokenize.toksSql +
              ") AS word FROM documents WHERE doc_id < 20")},
             $hybridKeyedFuseCtesSql,
             f10 AS (SELECT qid, doc_id, p FROM (SELECT qid, doc_id,
                 row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS p
               FROM hfused) WHERE p <= 10),
             lab AS (SELECT vec_id AS doc_id, CAST(label AS BIGINT) AS label FROM embeddings),
             ql AS (SELECT vec_id AS qid, CAST(label AS BIGINT) AS qlabel
               FROM embeddings WHERE vec_id < 20),
             $dcgWeightsCte,
             perq AS (SELECT f.qid, CAST(sum(CASE WHEN cl.label = ql.qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel10,
                 round(sum(CASE WHEN cl.label = ql.qlabel THEN 1 ELSE 0 END * w.w), 6) AS dcg,
                 min(CASE WHEN cl.label = ql.qlabel THEN f.p END) AS frank
               FROM f10 f JOIN lab cl ON f.doc_id = cl.doc_id
               JOIN ql ON f.qid = ql.qid
               JOIN w ON f.p = w.p
               GROUP BY f.qid),
             lc AS (SELECT CAST(label AS BIGINT) AS label, count(*) AS nl
               FROM embeddings GROUP BY 1),
             $rankingMetricsTail""")
    ),
    // --------------------------------------------------------------- q263
    // BATCHED HYBRID MSEARCH FROM THE PERSISTED INDEXES — the request
    // shape q252 grades and ServeBench prices one-at-a-time, served
    // as a production msearch endpoint serves it (round-16 verdict
    // #4): N fused requests in ONE plan against the SERVING artifacts
    // (the build-once postings TieredIndex and the deep IVFADC
    // index), not a per-request loop. The batch economics, all
    // plan-pinned: the lexical leg's N x 3 keyword terms collapse to
    // ONE pushed `word IN (...)` literal list — one key-range-pruned
    // postings scan covers every request — with df and the Okapi
    // contribution computed per (word, doc) BEFORE the per-qid
    // fan-out and dl/stats epoch-materialized once (q248's
    // amortization); the dense leg's N queries union their probed
    // cells into ONE pushed `ccid IN (...)` codes scan (the q216
    // batch-serve path — one scan, not N) through the full two-stage
    // request; and rrfFuseKeyed fuses all N pages in one bounded
    // aggregate. Oracle: per-qid replay of the exact chains (the
    // (qid, word) pairs are a pure function of qid, interpolated as
    // literals). ServeBench's batch row prices this against the
    // 1.24 s single-request hybrid: the per-plan fixed overhead that
    // dominates a single request amortizes across the batch. At
    // 100 TB: request count amortizes every corpus-proportional term
    // — the whole argument for msearch endpoints.
    QueryDef(
      "q263_hybrid_msearch",
      (s, dir) => {
        import s.implicits._
        val S = SimilarityOps
        val idx = S.buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val post = graft.operators.TieredIndex.read(s, buildPostingsIndex(s, dir))
        // epoch boundary: one dl pass + one stats row for the batch
        val dl = post.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        val stats = statsOf(dl)
        val pairs = msearchQTerms(20)
        val qterms = pairs.toDF("qid", "word")
          .select(col("qid").cast("long").as("qid"), col("word"))
        val wL = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
        val lex = bm25ScoreKeyed(
          termTfPushed(post, pairs.map(_._2).distinct), qterms, dl, stats)
          .filter(col("qid") =!= col("doc_id"))
          .withColumn("lex_rk", row_number().over(wL).cast("long"))
          .filter(col("lex_rk") <= 20)
          .select(col("qid"), col("doc_id"), col("lex_rk"))
        val iv = S.ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val vec = S.ivfadcServe(s, idx, q, iv, k = 256, nprobe = 4, candN = 32, topN = 20)
          .select(col("qid"), col("vec_id").as("doc_id"), col("rn").as("vec_rk"))
        rrfFuseKeyed(lex, vec).orderBy(col("qid"), col("rk"))
      },
      Some {
        val qtermsRows = msearchQTerms(20)
          .map { case (q, w) => s"SELECT $q AS qid, '$w' AS word" }
          .mkString("\n               UNION ALL ")
        s"""${SimilarityOps.ivfadcServeCtesSql(nprobe = 4, candN = 32)},
             ${bm25BatchSql("documents", qtermsRows)},
             $hybridKeyedFuseCtesSql,
             fr AS (SELECT qid, doc_id, rrf, lex_rk, vec_rk,
               row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rk
               FROM hfused)
             SELECT qid, CAST(rk AS BIGINT) AS rk, doc_id, rrf,
               CAST(lex_rk AS BIGINT) AS lex_rk, CAST(vec_rk AS BIGINT) AS vec_rk
             FROM fr WHERE rk <= 10 ORDER BY qid, rk"""
      }
    )
  )
}
