package graft.queries

import graft.functions.TextHashOps

/** The DuckDB spellings that two or more oracles share, each written
  * once. Every oracle builder composes from these instead of pasting.
  *
  * An oracle is one indented multi-line string, and its dumped text is
  * pinned byte for byte (`OracleTextSpec`), so a fragment emits the
  * absolute indentation its sites use: CTEs are listed at column 13,
  * their continuation lines sit at 15, nested expressions at 17 and 19.
  * A site at another indentation keeps its own spelling.
  *
  * Every fragment is a `def`: an oracle string in an object's `entries`
  * val interpolates eagerly at object init, and a def cannot be read
  * before it is initialised (a val declared after `entries` would
  * interpolate as "null").
  */
object OracleSql {

  /** Joins CTEs at the oracles' CTE indent. */
  def cteSep: String = ",\n             "

  /** Joins the rows of a UNION ALL at the oracles' statement indent. */
  def unionAllSep: String = "\n             UNION ALL\n             "

  // ---- integer vectors and exact integer L2 (the ANN family)

  /** `embedding` as integer micro-units offset by 2^24, so every
    * coordinate is non-negative and floor division agrees across
    * engines (the Spark side's `SimilarityOps.toIv`).
    */
  def intVec: String =
    """list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 16777216)"""

  /** `t` = (vec_id, iv): every embedding as its [[intVec]]. */
  def intVecCte: String =
    s"""t AS (SELECT vec_id, $intVec AS iv
               FROM embeddings)"""

  /** Exact squared L2 distance between the integer lists `a` and `b`. */
  def l2sq(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, len($a)),
                   j -> ($a[j] - $b[j]) * ($a[j] - $b[j])))"""

  /** Per-query rank by `key` (a distance), vec_id breaking ties. */
  def knnRank(key: String): String =
    s"row_number() OVER (PARTITION BY qid ORDER BY $key, vec_id)"

  /** `name` = (qid, vec_id): each query's `k` nearest rows of `src`. */
  def knnTopK(name: String, key: String, src: String, k: Int): String =
    s"""$name AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 ${knnRank(key)} AS rn FROM $src)
               WHERE rn <= $k)"""

  /** [[knnTopK]] over a filtered source: `from` is the FROM clause's
    * body, a relation and its WHERE.
    */
  def knnTopKWhere(name: String, key: String, from: String, k: Int): String =
    s"""$name AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 ${knnRank(key)} AS rn
               FROM $from) WHERE rn <= $k)"""

  /** `name` = (qid, vec_id, d): the exact re-rank distance of every
    * candidate in `cand` against its query in `wq`, over corpus `t`.
    */
  def rerankCte(name: String, cand: String, t: String = "t", wq: String = "wq"): String =
    s"""$name AS (SELECT c.qid, c.vec_id,
                 ${l2sq("q.qiv", "x.iv")} AS d
               FROM $cand c JOIN $wq q ON c.qid = q.qid
               JOIN $t x ON c.vec_id = x.vec_id)"""

  /** The brute-force ground truth: all-pairs distances `wbs` of the
    * query batch `wq` against corpus `t`, and each query's exact
    * top-3 `wb3` (the Spark side's `bruteTop3`).
    */
  def bruteTop3Ctes: String =
    s"""wbs AS (SELECT q.qid, x.vec_id,
                 ${l2sq("q.qiv", "x.iv")} AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             ${knnTopK("wb3", "d", "wbs", 3)}"""

  /** The closing SELECT of a recall@3 ledger: every query of `top3`
    * with its `hits` count from `hitsCte`, 0 when it has none.
    */
  def recallTail(hits: String, hitsCte: String, top3: String): String =
    s"""SELECT b.qid, CAST(3 AS BIGINT) AS k,
               CAST(coalesce($hitsCte.$hits, 0) AS BIGINT) AS $hits
             FROM (SELECT DISTINCT qid FROM $top3) b
             LEFT JOIN $hitsCte USING (qid) ORDER BY qid"""

  /** The positioned top-3 search result (qid, rn, vec_id, key) ranked
    * by `key` over `from`; `keyOut` is the key's output column.
    */
  def positionedTop3(key: String, from: String, keyOut: String): String =
    s"""SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, $keyOut FROM (
               SELECT qid, vec_id, $key,
                 ${knnRank(key)} AS rn
               FROM $from) r
             WHERE rn <= 3 ORDER BY qid, rn"""

  /** Batch `b`'s positioned ADC top-3 over the `wadc` rows in `pop`. */
  def batchAdcTop3Row(b: Int, pop: String): String =
    s"""SELECT CAST($b AS BIGINT) AS batch_id, qid, CAST(rn AS BIGINT) AS rn, vec_id, ad
             FROM (SELECT qid, vec_id, ad,
                 ${knnRank("ad")} AS rn
               FROM wadc WHERE $pop)
             WHERE rn <= 3"""

  /** Batch `b`'s positioned re-ranked top-3 over `lrr{b}`. */
  def batchRerankTop3Row(b: Int): String =
    s"""SELECT CAST($b AS BIGINT) AS batch_id, qid, CAST(rn AS BIGINT) AS rn, vec_id,
               CAST(d AS BIGINT) AS d
             FROM (SELECT qid, vec_id, d,
                 ${knnRank("d")} AS rn
               FROM lrr$b) WHERE rn <= 3"""

  // ---- documents and text

  /** `uni` = (doc_id, text): the documents that have an embedding, the
    * corpus both legs of a hybrid search rank.
    */
  def uniCte: String =
    """uni AS (SELECT d.doc_id, d.text FROM documents d
               WHERE d.doc_id IN (SELECT vec_id FROM embeddings))"""

  /** `t` = (doc_id, toks): every document's token list. */
  def toksCte: String =
    s"""t AS (
               SELECT doc_id,
                 ${Tokenize.toksSql} AS toks
               FROM documents)"""

  /** `shq` = (doc_id, sg): the distinct word 3-gram shingles of the
    * token list `toks` of each `src` row with three or more tokens, and
    * `mq` = (doc_id, sig): their MinHash signatures.
    */
  def shingleMinhashCtes(toks: String, src: String): String =
    s"""shq AS (SELECT doc_id, list_distinct(list_transform(
                 generate_series(1, len($toks) - 2),
                 i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])) AS sg
               FROM $src WHERE len($toks) >= 3),
             mq AS (SELECT doc_id,
                 ${TextHashOps.sigSql()} AS sig
               FROM shq)"""

  /** `bq` = (doc_id, bucket): the 4-band x 2-row LSH buckets of `mq`. */
  def bandBucketCte: String =
    s"""bq AS (SELECT doc_id, ${TextHashOps.bandBucketsSql("sig", 4, 2)} AS bucket FROM mq)"""

  /** Share of a document's tokens holding a letter, in ppm. */
  def alphaPpm: String =
    """CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                   * 1000000 // len(toks) AS BIGINT) AS alpha_ppm"""

  /** How many of eight common stop words a document uses. */
  def stopHits: String =
    """CAST(len(list_intersect(list_distinct(toks),
                   ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits"""

  /** The quality classifier's integer features over `toks` (the
    * Spark side is `TextOps.qualityScore`): mean word length in
    * micro-chars, letter share, type-token ratio and stop-word hits.
    */
  def qualityFeatures: String =
    s"""CAST(list_sum(list_transform(toks, x -> length(x)))
                   * 1000000 // len(toks) AS BIGINT) AS mean_wlen_micro,
                 $alphaPpm,
                 CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT) AS ttr_ppm,
                 $stopHits"""

  /** Winnowed 5-char shingle fingerprints: `t2` = (doc_id, fps), the
    * distinct minimum md5 of every window of four consecutive shingle
    * hashes of the lower-cased text (documents of 8+ chars).
    */
  def winnowCtes: String =
    """t0 AS (SELECT doc_id, lower(text) AS t FROM documents),
             t1 AS (SELECT doc_id,
               list_transform(generate_series(1, length(t) - 4), i -> md5(substr(t, i, 5))) AS h
               FROM t0 WHERE length(t) >= 8),
             t2 AS (SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(h) - 3),
                 i -> list_aggregate(list_slice(h, i, i + 3), 'min'))) AS fps
               FROM t1)"""

  /** Sequence packing of `st` = (doc_id, nt): each document's start in
    * 2048-token packs, from the exclusive running sum of its tokens.
    */
  def packSql: String =
    """c AS (
               SELECT doc_id, nt,
                 coalesce(sum(nt) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
               FROM st)
             SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
               CAST(s // 2048 AS BIGINT) AS pack_id,
               CAST(s % 2048 AS BIGINT) AS pack_offset
             FROM c ORDER BY doc_id"""

  // ---- lexical and hybrid search

  /** The terms of document 7, the hybrid gates' query document. */
  def doc7Terms: String =
    "SELECT DISTINCT unnest(" + Tokenize.toksSql + ") AS word FROM documents WHERE doc_id = 7"

  /** `name` = (doc_id, lex_rk): the lexical leg's top-20 of `scored`
    * (a bm25Sql chain's output), the query document excluded.
    */
  def lexTop20Cte(name: String, scored: String): String =
    s"""$name AS (SELECT doc_id, lex_rk FROM (
                 SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rk
                 FROM $scored WHERE doc_id <> 7)
               WHERE lex_rk <= 20)"""

  /** `fused{sfx}` = (doc_id, lex_rk, vec_rk, rrf): reciprocal-rank
    * fusion (k = 60) of the ranked legs `lex{sfx}` and `vec{sfx}`.
    */
  def rrfFusedCte(sfx: String): String =
    s"""fused$sfx AS (SELECT coalesce(lex$sfx.doc_id, vec$sfx.doc_id) AS doc_id,
                 lex$sfx.lex_rk, vec$sfx.vec_rk,
                 round(coalesce(CAST(1 AS DOUBLE) / (lex$sfx.lex_rk + 60), 0)
                   + coalesce(CAST(1 AS DOUBLE) / (vec$sfx.vec_rk + 60), 0), 6) AS rrf
               FROM lex$sfx FULL OUTER JOIN vec$sfx ON lex$sfx.doc_id = vec$sfx.doc_id)"""

  // ---- retrieval metrics

  /** `w` = (p, w): nDCG's position discounts as literals, the same
    * constants the Spark side reads (`SimilarityOps.dcgWeights`).
    */
  def dcgWeightsCte: String =
    "w AS (" + SimilarityOps.dcgWeights
      .map { case (p, w) => s"SELECT $p AS p, CAST($w AS DOUBLE) AS w" }
      .mkString(" UNION ALL ") + ")"

  /** The end of an MRR/nDCG@10 grading over `perq` = (qid, n_rel10, dcg,
    * frank), `ql` = (qid, qlabel), `lc` = (label, nl) and `w`: each
    * query's ideal DCG over its min(relevant, 10) best positions, then
    * (qid, n_rel10, mrr, ndcg10). A query with no relevant document
    * keeps its row, with zeros.
    */
  def rankingMetricsTail: String =
    """rq AS (SELECT ql.qid, lc.nl - 1 AS nrel
               FROM ql JOIN lc ON ql.qlabel = lc.label),
             idcg AS (SELECT rq.qid, round(sum(w.w), 6) AS idcg
               FROM rq CROSS JOIN w WHERE w.p <= least(rq.nrel, 10)
               GROUP BY rq.qid)
             SELECT p.qid, p.n_rel10,
               round(coalesce(CAST(1 AS DOUBLE) / p.frank, 0), 6) AS mrr,
               coalesce(round(p.dcg / i.idcg, 6), CAST(0 AS DOUBLE)) AS ndcg10
             FROM perq p LEFT JOIN idcg i ON p.qid = i.qid ORDER BY p.qid"""

  /** MRR/nDCG@10 of `top10` = (qid, vec_id, p, rel) with corpus labels
    * `lab` = (vec_id, label) and query labels `ql`: the oracle twin of
    * `SimilarityOps.rankingMetrics`.
    */
  def rankingMetricsCtes: String =
    s"""$dcgWeightsCte,
             perq AS (SELECT t10.qid, CAST(sum(rel) AS BIGINT) AS n_rel10,
                 round(sum(rel * w.w), 6) AS dcg,
                 min(CASE WHEN rel = 1 THEN t10.p END) AS frank
               FROM top10 t10 JOIN w ON t10.p = w.p GROUP BY t10.qid),
             lc AS (SELECT label, count(*) AS nl FROM lab GROUP BY label),
             $rankingMetricsTail"""
}
