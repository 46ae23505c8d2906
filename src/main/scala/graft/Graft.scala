package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The library façade — the one import a user of the reference needs to
  * switch engines. Everything here is a thin delegation to the module
  * that owns the implementation; the full per-operator query registry
  * stays on [[SparkEntry]] (auto-documented in REGISTRY.md via
  * `sbt "runMain RegistryDoc"`).
  *
  * ```scala
  * val spark = Graft.session()
  * // the reference's own surface: external executables through the
  * // fixed map -> sort/group -> reduce pipeline
  * Graft.runJob(spark, mr.JobSpec(inputDir, outDir, "./map.py", "./reduce.py", 2, 2))
  * // the Spark-native surface
  * val pairs = Graft.minhashPairs(spark, tableDir)
  * val comps = Graft.connectedComponents(pairs.select("id_a", "id_b"))
  * ```
  */
object Graft {

  /** Session with the graft defaults (AQE, task retry, UTC, extensions). */
  def session(appName: String = "graft"): SparkSession = Engine.session(appName)

  /** Load a driver-format parquet table from `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(spark, dir, name)

  // ---- the reference's own surface (SURVEY §2.1-2.2) ----------------

  /** Run an external-executable MapReduce job (reference O1-O6). */
  def runJob(spark: SparkSession, spec: mr.JobSpec): Seq[java.io.File] =
    mr.MapReduceJob.run(spark, spec)

  /** Map + group only, written as the reference's grouper-output
    * `reduceNN` files (the S3 intermediate sink; byte-parity with the
    * reference under `parityPartitioning = true`).
    */
  def mapAndGroup(spark: SparkSession, spec: mr.JobSpec, groupOutDir: String): Seq[java.io.File] =
    mr.MapReduceJob.mapAndGroup(spark, spec, groupOutDir)

  /** Parse the reference's `new_manager_job` JSON message into a spec
    * (the mapreduce-submit surface; see also `graft.mr.Submit.main`).
    */
  def parseJob(json: String): mr.JobSpec = mr.Submit.parseJob(json)

  // ---- reusable Spark-native operators ------------------------------

  /** Skew-safe salted inner equi-join (see EtlOps.saltedJoin). */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      saltSource: Column,
      buckets: Int
  ): DataFrame = queries.EtlOps.saltedJoin(left, right, leftKey, rightKey, saltSource, buckets)

  /** MinHash-LSH verified near-duplicate pairs over `documents`. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    queries.DedupOps.minhashPairs(spark, dir)

  /** Connected components of an undirected (src, dst) pair list. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    queries.DedupOps.connectedComponents(pairs)

  /** Connected components via alternating large-star/small-star rounds —
    * the bounded-fan-in variant for graphs with huge components (the
    * 100 TB path; same output contract as [[connectedComponents]]).
    */
  def starComponents(pairs: DataFrame): DataFrame =
    queries.DedupOps.starComponents(pairs)

  /** Deterministic distributed k-means assignment over `embeddings`
    * (2 exact-integer Lloyd rounds, k=16): (vec_id, cid, d). The
    * clustering stage of SemDeDup-style semantic dedup.
    */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    queries.SimilarityOps.kmeansAssign(spark, dir)

  /** Compact a table into range-clustered files (see Layout.compact). */
  def compact(
      spark: SparkSession,
      in: DataFrame,
      outDir: String,
      targetFiles: Int,
      clusterCols: Column*
  ): DataFrame = operators.Layout.compact(spark, in, outDir, targetFiles, clusterCols: _*)

  /** Z-order composite clustering value (see Layout.zorderValue). */
  def zorderValue(a: Column, b: Column, bits: Int = 16): Column =
    operators.Layout.zorderValue(a, b, bits)

  /** Engine-portable deterministic shard assignment (see Layout.shardOf). */
  def shardOf(key: Column, nShards: Int): Column = operators.Layout.shardOf(key, nShards)

  /** Engine-portable percent bucket [0,100) for split assignment, bias
    * <0.01 percentage points (see Layout.pctBucket).
    */
  def pctBucket(key: Column): Column = operators.Layout.pctBucket(key)

  /** Write hive-partitioned training shards (see Layout.writeShards). */
  def writeShards(
      spark: SparkSession,
      in: DataFrame,
      outDir: String,
      key: Column,
      nShards: Int
  ): DataFrame = operators.Layout.writeShards(spark, in, outDir, key, nShards)

  /** Release scratch blocks (lazy checkpoints, cached plans, streaming
    * memory-sink views) left by consumed query results — call per
    * consumed result in long-lived sessions.
    *
    * SINGLE-WRITER: session-global cleanup. Calling this while another
    * query on the same session is mid-flight can drop that query's
    * materialized localCheckpoint (truncated lineage — it fails rather
    * than recomputes). Concurrent query execution is supported; call
    * cleanup only between queries, from the session-owning thread
    * (see Engine.releaseScratch).
    */
  def releaseScratch(spark: SparkSession): Unit = Engine.releaseScratch(spark)

  /** Codegen'd dot product / cosine over array<double> columns. */
  def dot(a: Column, b: Column): Column = functions.VectorOps.dot(a, b)
  def cosine(a: Column, b: Column): Column = functions.VectorOps.cosine(a, b)

  /** Unicode NFC normalization (codegen'd graft_nfc). */
  def nfc(c: Column): Column = functions.StringFns.nfc(c)

  /** Append `canon_url` + registered `domain` columns derived from an
    * existing `url` column — CCNet/RefinedWeb URL canonicalization
    * (case-fold scheme/host, strip default ports / www. / fragments /
    * trailing slashes / tracking params, sort surviving params). The
    * exact chain behind q163/q164, so the oracle gate covers it.
    */
  def canonicalizeUrls(df: DataFrame): DataFrame =
    queries.CurationOps.canonicalizeUrls(df)

  /** Per-stratum distributed rank: adds `rnk` (1-based within-stratum
    * rank, deterministic given a total `order`) and `n` (stratum size)
    * without a per-stratum window sort — the shape every quota /
    * selection / bucketing operator in the registry uses (q141, q153,
    * q161, q164, q167, q173, q180, q182, q184). Reserved output names
    * fail fast (see [[operators.Ranks.distributedRank]]).
    */
  def distributedRank(df: DataFrame, strata: Seq[String], order: Seq[Column]): DataFrame =
    operators.Ranks.distributedRank(df, strata, order)

  /** Exact global prefix sum of `value` in `order` (adds `psum`) — the
    * distributed running-sum sibling (q89 token budget, q129 packing).
    */
  def distributedPrefixSum(
      df: DataFrame, order: Seq[Column], value: Column, inclusive: Boolean): DataFrame =
    operators.Ranks.distributedPrefixSum(df, order, value, inclusive)

  /** Codegen'd bloom membership probe against a driver-built filter —
    * the join-pruning primitive (q178): build with `df.stat.bloomFilter`,
    * serialize, drop non-matching probe rows at the scan.
    */
  def bloomSerialize(f: org.apache.spark.util.sketch.BloomFilter): Array[Byte] =
    functions.BloomOps.serialize(f)
  def bloomMightContain(filterBytes: Array[Byte], key: Column): Column =
    functions.BloomOps.mightContain(filterBytes, key)

  /** LSH band buckets over a MinHash signature column — the banding
    * layout shared by every fuzzy-dedup operator (q52's 4x2 is
    * bandBuckets(sig, 4, 2)).
    */
  def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    functions.TextHashOps.bandBuckets(sig, bands, rows)

  /** The document-local ingest gate (PII scrub + density drop -> C4
    * blocklist -> rule + classifier quality gate -> clean-token hash):
    * the stage function both the q173 batch composite and the q181
    * streaming ingest path run — apply it to any (doc_id, lang,
    * source, text) frame.
    */
  def ingestGate(docs: DataFrame): DataFrame = queries.CurationOps.ingestGate(docs)

  /** BPE merge learning (q190): a distributed (word, freq) count of a
    * one-column `word` DataFrame, then `steps` rounds of pair counting
    * -> argmax -> merge-everywhere inside one task (exactness rules in
    * [[queries.Bpe.trainMerges]]); returns the learned (step, a, b, cnt)
    * table. The application side (encode a word under the literal merge
    * table, count per-doc tokens) is [[queries.Bpe]]'s SQL builders —
    * q188/q189/q191's kernel.
    */
  def bpeTrainMerges(words: DataFrame, steps: Int): DataFrame =
    queries.Bpe.trainMerges(words, steps).select("step", "a", "b", "cnt")

  /** Trained per-subspace PQ codebook over `{dir}/embeddings.parquet`
    * (M=8 x K=16, the q202 exact-integer Lloyd recipe) — 128 rows
    * (m, cid, cv), always broadcast-sized.
    */
  def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    queries.SimilarityOps.pqCodebook(spark, dir)

  /** PQ assignment (vec_id, m, cid, d) of every vector against `cb`
    * (a [[pqCodebook]] result) — pack with
    * `sum(cid * shiftleft(1L, 4 * m))` for the 4-byte code (q202).
    */
  def pqAssign(spark: SparkSession, dir: String, cb: DataFrame): DataFrame =
    queries.SimilarityOps.pqAssign(spark, dir, cb)

  /** Float embeddings -> exact-integer micro-unit vectors (vec_id, iv)
    * — the one quantization spelling every integer-L2 kernel assumes
    * (floor(x * 1e6 + 0.5) + 2^24; offsets cancel in distances). Build
    * query/corpus frames for [[annServe]] with it.
    */
  def microVecs(df: DataFrame): DataFrame = queries.SimilarityOps.toIv(df)

  /** Build (or resolve the process-cached) persisted IVFADC ANN index
    * over `{dir}/embeddings.parquet` at system depth (k, rounds):
    * coarse cells + residual codebook as frozen parquet, codes as a
    * ccid-clustered [[operators.TieredIndex]] that accepts streaming
    * appends/deletes with LSM maintenance. Returns the artifact root
    * for [[annServe]]. Pointer-committed (COMPLETE marker last) and
    * idempotent per (process, dir, k, rounds).
    */
  def buildAnnIndex(spark: SparkSession, dir: String, k: Int = 256, rounds: Int = 2): String =
    queries.SimilarityOps.buildIvfAdcIndex(spark, dir, k, rounds)

  /** The complete two-stage ANN request against a built index: pruned
    * ADC probe (literal `ccid IN (...)` pushed to the codes scan,
    * top-16 candidates) + exact integer-L2 refine -> positioned top-3
    * (qid, rn, vec_id, d). `q` is (qid, qiv), `iv` (vec_id, iv) — both
    * from [[microVecs]]. `where` filters candidates IN-SCAN (metadata-
    * constrained search, FAISS IDSelector); `scoreFilter` transforms
    * the pre-rank (qid, vec_id, ad) frame for per-query predicates
    * (label-aware hard-negative mining).
    */
  def annServe(
      spark: SparkSession, root: String, q: DataFrame, iv: DataFrame,
      k: Int = 256, nprobe: Int = 2, where: Option[Column] = None,
      scoreFilter: DataFrame => DataFrame = identity,
      candN: Int = 16, topN: Int = 3): DataFrame =
    queries.SimilarityOps.ivfadcServe(
      spark, root, q, iv, k, nprobe, where, scoreFilter, candN, topN)

  /** Resolve the LIVE generation of a blue/green artifact root (the
    * q247 retrain-swap layout): the path serving requests should read
    * their artifacts from. Fails loudly on a missing/partial pointer.
    */
  def resolveGeneration(root: String): String = operators.Generations.resolve(root)

  /** Commit a complete artifact generation dir (e.g. a retrained ANN
    * index) as the new CURRENT under `root` — atomic pointer swap,
    * previous generation retained for in-flight readers, older ones
    * GC'd beyond `retain`.
    */
  def commitGeneration(root: String, gen: String, retain: Int = 2): Unit =
    operators.Generations.commit(root, gen, retain)

  /** The inverted-index rows (doc_id, word, tf) of a document frame
    * (doc_id, text) — BM25's complete sufficient state; persist them
    * as [[operators.TieredIndex]] segments for an incremental lexical
    * index (the q236 lifecycle).
    */
  def postings(docs: DataFrame): DataFrame = queries.RetrievalOps.postingsOf(docs)

  /** Okapi BM25 (k1=1.2, b=0.75, Lucene's always-positive idf) of
    * every document in `post` (a [[postings]] frame or a TieredIndex
    * read of one) against term set `terms` (one `word` column):
    * (doc_id, score), score rounded to 4dp — rank on the rounded
    * value so libm ulp noise cannot flip an order.
    */
  def bm25(post: DataFrame, terms: DataFrame): DataFrame =
    queries.RetrievalOps.bm25FromPostings(post, terms)

  /** [[postings]] with a sorted positions column (doc_id, word, tf,
    * positions) — the Lucene positional segment: the same index rows
    * answer BM25 (positions project away) AND phrase queries
    * ([[phrase]]). Persist through [[operators.TieredIndex]] for the
    * live positional index (the q246 lifecycle).
    */
  def positionalPostings(docs: DataFrame): DataFrame =
    queries.RetrievalOps.positionalPostingsOf(docs)

  /** Exact-phrase ranking over a [[positionalPostings]] frame: each
    * term is one key-range-pruned index read, adjacency is the
    * (n-1)-way equi-join on (doc_id, position) -> positioned top-k
    * (rk, doc_id, n) by phrase frequency.
    */
  def phrase(post: DataFrame, tokens: Seq[String], topN: Int = 20): DataFrame =
    queries.RetrievalOps.phraseRank(post, tokens, topN)

  /** Ordered proximity ranking over a [[positionalPostings]] frame:
    * docs ranked by (w1 before w2 within `maxGap` tokens) pair counts —
    * Lucene's sloppy phrase / NEAR operator.
    */
  def proximity(
      post: DataFrame, w1: String, w2: String, maxGap: Int, topN: Int = 20): DataFrame =
    queries.RetrievalOps.proximityRank(post, w1, w2, maxGap, topN)

  /** Reciprocal-rank fusion (k = 60) of two positioned top-k legs
    * (doc_id, lex_rk) x (doc_id, vec_rk) -> fused positioned top-`topN`
    * carrying both legs' ranks.
    */
  def rrf(lex: DataFrame, vec: DataFrame, topN: Int = 10): DataFrame =
    queries.RetrievalOps.rrfFuse(lex, vec, topN)

  /** The full oracle-gated query registry (name -> (session, dir) -> DataFrame).
    *
    * SCRATCH CONTRACT: some registry plans materialize scratch state as
    * a side effect of being consumed — lazily-localCheckpoint-ed
    * intermediates, a persist() behind a double-consumed build side
    * (q178), memory-sink views from streaming replays. In a long-lived
    * session, call [[Engine.releaseScratch]] after each result has been
    * fully consumed (counted / written), exactly as Verify and Bench
    * do, or those blocks accumulate without bound. Single-writer rule:
    * releaseScratch is session-global — never call it while another
    * query on the same session is mid-execution (see its scaladoc).
    */
  def queryRegistry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
}
