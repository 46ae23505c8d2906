package graft.queries

import graft.{Engine, QueryDef}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleSql._

/** Deduplication operators over `documents` — the core of a training-data
  * pipeline. Exact dedup (hash group-by), shingle-set Jaccard near-dup,
  * MinHash+LSH (band/bucket join), and SimHash fingerprints.
  *
  * Determinism across engines: hashes are md5 hex strings (identical in
  * Spark and DuckDB), minhash = lexicographic MIN over md5 strings (no
  * integer parsing needed), Jaccard = int/int double division (exactly
  * rounded in both engines).
  *
  * Scale notes (100 TB): exact dedup is one shuffle on the hash key.
  * MinHash-LSH is the scale path for near-dup: signature computation is
  * a narrow map; the candidate join shuffles on the *bucket* key only
  * (tiny vs a cross join); verification touches only candidate pairs.
  * The block-Jaccard query (q51) is the quadratic-within-block baseline
  * used to validate LSH recall on samples — at full scale you run q52.
  */
object DedupOps {

  /** LSH degenerate-bucket cap (mirrored as QUALIFY ... <= 1000 in the
    * oracle SQL — keep the two in sync).
    */
  private val maxBucketSize = 1000

  /** distinct word-3-gram shingles; tokenizer matches TextOps.
    *
    * Plan-shape notes (both matter, measured ~3x together at sf0.1):
    * the repartition spreads the lambda-heavy shingle/signature work
    * across cores — the local single-file parquet scan yields one
    * partition (no row-group splits), which would otherwise serialize
    * the whole chain (on a many-split table at scale this is a no-op
    * cost-wise: one narrow shuffle of raw text). And `toks` is computed
    * BEFORE that exchange: higher-order functions evaluate interpreted
    * with no subexpression elimination, so if CollapseProject inlines
    * the tokenizer into the shingle lambda, every `element_at(toks, i)`
    * re-runs the full regex split — ~3 tokenizer evaluations PER
    * SHINGLE instead of one per doc. The exchange is a hard projection
    * barrier the optimizer cannot collapse through (at cluster scale:
    * persist() the tokenized table for the same effect without an extra
    * shuffle).
    */
  private def withShingles(df: DataFrame): DataFrame =
    df.select(
        col("*"),
        Tokenize.toksExpr.as("toks")
      )
      .repartition(col("doc_id"))
      .filter(size(col("toks")) >= 3)
      .withColumn(
        "sg",
        // native one-pass text grams (GramHash.tokenGramsText):
        // bit-identical to the transform/concat HOF form
        array_distinct(graft.functions.TextHashOps.gramsText(col("toks"), 3))
      )

  private val shinglesSql =
    s"""WITH t AS (
      SELECT doc_id, lang, source,
        ${Tokenize.toksSql} AS toks
      FROM documents),
    sh AS (
      SELECT doc_id, lang, source,
        list_distinct(list_transform(generate_series(1, len(toks) - 2),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sg
      FROM t WHERE len(toks) >= 3)"""

  /** Jaccard over distinct-element arrays via |a∩b| / (|a|+|b|-|a∩b|) —
    * one set-intersection per pair instead of intersect+union (the
    * arrays are already distinct, so the value is identical).
    */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** the full MinHash-LSH candidate pipeline as DuckDB CTEs; `v` ends
    * with verified pairs (id_a, id_b, j) at Jaccard >= 0.3
    */
  private val minhashPairsSql: String =
    s"""$shinglesSql,
       m AS (SELECT doc_id, sg,
         ${graft.functions.TextHashOps.sigSql()} AS sig
         FROM sh),
       bk0 AS (SELECT doc_id, ${graft.functions.TextHashOps.bandBucketsSql("sig", 4, 2)} AS bucket FROM m),
       bk AS (SELECT doc_id, bucket FROM bk0
         QUALIFY count(*) OVER (PARTITION BY bucket) <= 1000),
       p AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM bk l JOIN bk r ON l.bucket = r.bucket AND l.doc_id < r.doc_id),
       v0 AS (SELECT p.id_a, p.id_b,
           len(list_intersect(x.sg, y.sg)) AS i, len(x.sg) AS la, len(y.sg) AS lb
         FROM p JOIN sh x ON x.doc_id = p.id_a JOIN sh y ON y.doc_id = p.id_b),
       v AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (la + lb - i) AS j FROM v0
         WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.3)"""

  /** The connected components of the verified MinHash pairs `v`: the
    * undirected edges `e`, their transitive closure `reach` (this opens
    * a WITH RECURSIVE), and `name` = (id, `cluster`) with each node's
    * smallest reachable id. A def, so vals below can interpolate it.
    */
  private def minhashComponentsSql(name: String, cluster: String): String =
    s"""${minhashPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
             e AS (SELECT id_a AS src, id_b AS dst FROM v
                   UNION ALL SELECT id_b, id_a FROM v),
             reach(src, dst) AS (
               SELECT src, dst FROM e
               UNION
               SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
             $name AS (
               SELECT n.id, least(n.id, min(r.dst)) AS $cluster
               FROM (SELECT DISTINCT src AS id FROM e) n
               JOIN reach r ON r.src = n.id GROUP BY n.id)"""

  /** Transitive-closure clusters over the verified MinHash pairs as
    * DuckDB SQL — the shared oracle of q58 (min-propagation CC) and
    * q134 (large-star/small-star CC): both must produce exactly these
    * clusters.
    */
  private val minhashClustersSql: String =
    s"""${minhashComponentsSql("comp", "cluster_id")},
             sz AS (SELECT cluster_id, count(*) AS cluster_size
                    FROM comp GROUP BY cluster_id)
             SELECT comp.id AS doc_id, comp.cluster_id, sz.cluster_size
             FROM comp JOIN sz USING (cluster_id) ORDER BY doc_id"""

  /** MinHash-LSH verified near-dup pairs with exact Jaccard >= 0.3 in
    * column `j` — the scale path for near-dedup: signatures are a narrow
    * map, the candidate join shuffles on bucket keys only, verification
    * touches candidates only. Shared by q52 (pair listing) and q55
    * (dedup materialization).
    *
    * At production scale you would materialize the shingle table (`sh`)
    * once (persist or an intermediate table) before the candidate and
    * verification joins; here each query stays a self-contained plan,
    * with AQE stage reuse de-duplicating the bucket-join side.
    */
  def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    // MATERIALIZE the shingle table before anything references it: `sg`
    // feeds the signatures AND both verification joins, and without a
    // hard barrier Catalyst's projection collapse + join-key isnotnull
    // pushdown inline the whole tokenize->shingle expression into every
    // consumer — including a pre-shuffle filter on the (single-partition)
    // scan, recomputing it many times serially. localCheckpoint is the
    // local form of the production pattern: persist signatures once,
    // then run candidate generation and verification over the
    // materialized table.
    val sh = withShingles(Engine.table(s, dir, "documents"))
      .select(col("doc_id"), col("sg"))
      .localCheckpoint(eager = false)
    val sig = sh.withColumn(
      "sig",
      // native one-pass signature (GramHash.minhashSig): bit-identical
      // to array((0..7).map(i => array_min(transform(sg, md5('i|'+x)))))
      // without walking the shingle array 8 times interpreted
      graft.functions.TextHashOps.minhashSig(col("sg"), 8)
    )
    // Degenerate-bucket guard: a bucket of B near-identical docs yields
    // B^2 candidate pairs; buckets beyond maxBucketSize are dropped
    // (bounded recall loss, bounded work — standard LSH practice). Same
    // broadcast anti-join idiom as q150/q151/q155 — bucket populations
    // aggregate MAP-SIDE (only (bucket, count) rows cross the wire),
    // the few over-cap buckets broadcast back as a blacklist — which
    // replaces the old window form's full sort of the banded table
    // inside its exchange. The banded table is materialized once and
    // feeds the count and both self-join sides.
    val bands0 = sig
      .select(
        col("doc_id"),
        explode(
          array((0 until 4).map(b =>
            md5(concat(element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2)))
          ): _*)
        ).as("bucket")
      )
      .localCheckpoint(eager = false)
    val hot = bands0
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("bc"))
      .filter(col("bc") > maxBucketSize)
      .select(col("bucket"))
    val banded = bands0.join(broadcast(hot), Seq("bucket"), "left_anti")
    val cand = banded
      .as("l")
      .join(banded.as("r"), col("l.bucket") === col("r.bucket") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"))
      .distinct()
    cand
      .join(sh.as("x"), col("id_a") === col("x.doc_id"))
      .join(sh.as("y"), col("id_b") === col("y.doc_id"))
      .withColumn("j", jaccard(col("x.sg"), col("y.sg")))
      .filter(col("j") >= 0.3)
      .select(col("id_a"), col("id_b"), col("j"))
  }

  /** the SimHash computation as DuckDB CTEs ending in sim(doc_id, simhash).
    * 32-bit hashes via digit-wise hex parse (matches Spark's conv); all
    * values < 2^32 are exact in the intermediate doubles.
    * (Declared before `entries`, which interpolates it eagerly.)
    */
  private val simhashSql: String =
    s"""$shinglesSql,
       hx AS (SELECT doc_id, list_transform(sg, x ->
         CAST(list_sum(list_transform(generate_series(1, 8),
           k -> (strpos('0123456789abcdef', substr(md5(x), k, 1)) - 1)
                * power(16, 8 - k))) AS BIGINT)) AS hs
         FROM sh),
       sim AS (SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, 31), j ->
           CASE WHEN 2 * len(list_filter(hs, v -> (v // (CAST(1 AS BIGINT) << j)) % 2 = 1))
                    >= len(hs)
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
         FROM hx)"""

  /** q156/q157's shared engine side: per-doc MAXIMAL shared-substring
    * spans (1-based inclusive token offsets) from >= 2-distinct-doc
    * 10-token gram hashes. See q156's registry comment for the full
    * semantics and scale argument.
    */
  private[queries] def dupSpanRows(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    // BARRIER BEFORE THE EXPLODE (q151/q154's lesson): checkpoint
    // the (doc_id, gram-hash ARRAY) projection so the explode's
    // implicit isnotnull/size filter cannot inline the md5-gram DAG
    // and drag it below the repartition onto the single-file scan.
    val gdocs = Engine
      .table(s, dir, "documents")
      .repartition(col("doc_id"))
      .withColumn("toks", Tokenize.toksExpr)
      .filter(size(col("toks")) >= k)
      .select(
        col("doc_id"),
        // native single-pass kernel, bit-identical to the
        // transform/concat_ws/md5 HOF form (GramHashSpec)
        graft.functions.TextHashOps.gramMd5s(col("toks"), k).as("ghs")
      )
      .localCheckpoint(eager = false)
    val occ = gdocs
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("p0", "gh")))
      .select(col("doc_id"), (col("p0") + 1L).cast("long").as("pos"), col("gh"))
    // shared = grams seen in >= 2 distinct docs (within-doc repeats
    // alone don't count — this is the cross-document operator)
    val shared = occ
      .groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gh"))
    val hits = occ.join(shared, "gh").select(col("doc_id"), col("pos"))
    val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn(
        "brk",
        when(col("pos") - lag(col("pos"), 1).over(wD) <= k, 0L).otherwise(1L)
      )
      .withColumn("island", sum(col("brk")).over(wD))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + (k - 1)).as("span_end"))
  }

  /** the span computation as DuckDB CTEs, ending in sp(doc_id,
    * span_start, span_end) — q156 lists it, q157 aggregates coverage.
    * (Declared before `entries`, which interpolates it eagerly.)
    */
  private[queries] val dupSpansSql: String =
    s"""WITH $toksCte,
             g AS (SELECT doc_id, i AS pos,
                 md5(array_to_string(list_slice(toks, i, i + 9), ' ')) AS gh
               FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 9)) AS i
                     FROM t WHERE len(toks) >= 10)),
             sh2 AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
             h AS (SELECT doc_id, pos FROM g JOIN sh2 USING (gh)),
             b AS (SELECT doc_id, pos,
                 CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 10
                      THEN 0 ELSE 1 END AS brk FROM h),
             i2 AS (SELECT doc_id, pos,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM b),
             sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end
               FROM i2 GROUP BY doc_id, island)"""

  val entries: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- q50
    // Exact dedup: one shuffle on the content hash; keep lowest doc_id.
    QueryDef(
      "q50_exact_dedup",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
          .orderBy(col("h")),
      Some("""SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_dups
             FROM documents GROUP BY md5(text) ORDER BY h""")
    ),
    // ---------------------------------------------------------------- q51
    // N-gram Jaccard near-dup, blocked by (lang, source): the quadratic
    // baseline. Top-50 pairs by similarity (quantized for determinism).
    QueryDef(
      "q51_ngram_jaccard",
      (s, dir) => {
        // pre-shuffled on the block key so both self-join sides are the
        // same stage (AQE exchange reuse: one shingle pass, not two);
        // unlike the simhash/minhash pipelines the inlined pre-shuffle
        // expression here is a single tokenize per doc — cheap — so the
        // exchange-reuse form beats a materialization barrier
        val sh = withShingles(Engine.table(s, dir, "documents"))
          .select(col("doc_id"), col("lang"), col("source"), col("sg"))
          .repartition(col("lang"), col("source"))
        sh.as("a")
          .hint("merge")
          .join(
            sh.as("b"),
            col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id")
          )
          .select(
            col("a.doc_id").as("id_a"),
            col("b.doc_id").as("id_b"),
            round(jaccard(col("a.sg"), col("b.sg")), 6).as("jaccard")
          )
          .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
          .limit(50)
      },
      Some(s"""$shinglesSql,
             pairs AS (
               SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 len(list_intersect(a.sg, b.sg)) AS i, len(a.sg) AS la, len(b.sg) AS lb
               FROM sh a JOIN sh b
                 ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
             SELECT id_a, id_b, round(CAST(i AS DOUBLE) / (la + lb - i), 6) AS jaccard
             FROM pairs ORDER BY jaccard DESC, id_a, id_b LIMIT 50""")
    ),
    // ---------------------------------------------------------------- q52
    // MinHash + LSH: 8 md5-minhashes, 4 bands x 2 rows -> bucket join ->
    // verify candidates with exact Jaccard >= 0.3.
    QueryDef(
      "q52_minhash_lsh",
      (s, dir) =>
        minhashPairs(s, dir)
          .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""$minhashPairsSql
             SELECT id_a, id_b, round(j, 6) AS jaccard FROM v ORDER BY id_a, id_b""")
    ),
    // ---------------------------------------------------------------- q55
    // End-to-end dedup materialization: drop every doc that is the
    // higher-id member of a verified near-dup pair (greedy keep-lowest).
    QueryDef(
      "q55_dedup_materialize",
      (s, dir) => {
        val dups = minhashPairs(s, dir).select(col("id_b")).distinct()
        val docs = Engine.table(s, dir, "documents")
        docs
          .join(dups, docs("doc_id") === dups("id_b"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$minhashPairsSql
             SELECT d.doc_id, d.lang, d.source FROM documents d
             WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.id_b = d.doc_id)
             ORDER BY d.doc_id""")
    ),
    // ---------------------------------------------------------------- q56
    // Edit-distance near-dup: Levenshtein over 32-char prefixes within
    // (lang, source) blocks — catches char-level corruption that
    // token-set Jaccard misses. Top-50 closest pairs.
    QueryDef(
      "q56_edit_distance",
      (s, dir) => {
        val d = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("source"), substring(col("text"), 1, 32).as("p"))
          .repartition(col("lang"), col("source"))
        d.as("a")
          .hint("merge")
          .join(
            d.as("b"),
            col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
              col("a.doc_id") < col("b.doc_id")
          )
          .select(
            col("a.doc_id").as("id_a"),
            col("b.doc_id").as("id_b"),
            levenshtein(col("a.p"), col("b.p")).cast("long").as("dist")
          )
          .orderBy(col("dist"), col("id_a"), col("id_b"))
          .limit(50)
      },
      Some("""WITH d AS (SELECT doc_id, lang, source, substr(text, 1, 32) AS p FROM documents)
             SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
             FROM d a JOIN d b
               ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
             ORDER BY dist, id_a, id_b LIMIT 50""")
    ),
    // ---------------------------------------------------------------- q58
    // Near-dup clusters: connected components over the q52 verified-pair
    // graph via iterative min-id propagation (each node adopts the
    // smallest component id among itself and its neighbors until no
    // change). Greedy pairwise dropping (q55) over-deletes on chains
    // A~B~C where A!~C; components give the transitive clusters a real
    // dedup pass keys on. Convergence takes O(diameter) rounds — near-dup
    // components are shallow in practice; each round is one shuffle join,
    // localCheckpoint truncates the growing lineage (at 100 TB you would
    // checkpoint to durable storage and use the large-star/small-star
    // variant to bound component fan-in).
    QueryDef(
      "q58_dup_clusters",
      (s, dir) => {
        val pairs = minhashPairs(s, dir).select(col("id_a"), col("id_b"))
        val comp = connectedComponents(pairs)
        val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        comp
          .join(sizes, "comp")
          .select(col("id").as("doc_id"), col("comp").as("cluster_id"), col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      // the oracle computes the same components by transitive closure
      // (recursive CTE): comp(id) = min id reachable from id
      Some(minhashClustersSql)
    ),
    // --------------------------------------------------------------- q134
    // The same near-dup clusters through the 100 TB CC algorithm:
    // alternating large-star/small-star rounds (starComponents) instead
    // of min-id propagation — bounded per-key state, O(log^2 n) rounds.
    // Gate-checked against the SAME transitive-closure oracle as q58,
    // so the two implementations are pinned equivalent end-to-end (and
    // property-tested against each other on random graphs in
    // ComponentsSpec).
    QueryDef(
      "q134_cc_star",
      (s, dir) => {
        val pairs = minhashPairs(s, dir).select(col("id_a"), col("id_b"))
        val comp = starComponents(pairs)
        val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        comp
          .join(sizes, "comp")
          .select(col("id").as("doc_id"), col("comp").as("cluster_id"), col("cluster_size"))
          .orderBy(col("doc_id"))
      },
      Some(minhashClustersSql)
    ),
    // --------------------------------------------------------------- q139
    // Quality-aware canonical selection: near-dup clusters (the q134
    // large-star/small-star components) keep their BEST member — longest
    // text, doc_id as the deterministic tiebreak — instead of the
    // arbitrary min-id that plain dedup materialization keeps. This is
    // the shape production near-dedup actually ships (pick the
    // highest-quality representative; drop the rest), and it reports the
    // cost/benefit per cluster: members dropped and characters retired.
    // Scale: components via bounded-fan-in star rounds; the rep choice
    // is one row_number window partitioned by cluster id (shuffles on
    // the cluster key, never global).
    QueryDef(
      "q139_cluster_best_rep",
      (s, dir) => {
        val pairs = minhashPairs(s, dir).select(col("id_a"), col("id_b"))
        val comp = starComponents(pairs)
        val members = comp.join(
          Engine.table(s, dir, "documents").select(col("doc_id").as("id"), col("n_chars")),
          "id"
        )
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("comp"))
          .orderBy(col("n_chars").desc, col("id"))
        members
          .withColumn("rk", row_number().over(w))
          .groupBy(col("comp").as("cluster_id"))
          .agg(
            count(lit(1)).as("cluster_size"),
            max(when(col("rk") === 1, col("id"))).as("rep_doc_id"),
            max(when(col("rk") === 1, col("n_chars"))).as("rep_chars"),
            sum(when(col("rk") =!= 1, col("n_chars")).otherwise(0L)).as("dropped_chars")
          )
          .orderBy(col("cluster_id"))
      },
      Some(s"""${minhashComponentsSql("comp", "cluster_id")},
             mem AS (
               SELECT c.cluster_id, c.id, d.n_chars,
                 row_number() OVER (PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.id) AS rk
               FROM comp c JOIN documents d ON d.doc_id = c.id)
             SELECT cluster_id, count(*) AS cluster_size,
               CAST(max(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS rep_doc_id,
               CAST(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT) AS rep_chars,
               CAST(sum(CASE WHEN rk <> 1 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
             FROM mem GROUP BY cluster_id ORDER BY cluster_id""")
    ),
    // ---------------------------------------------------------------- q99
    // The flagship end-to-end curation pipeline — what a training-data
    // user actually runs: quality gate (length + lexical diversity),
    // exact dedup (keep lowest id per content hash), MinHash-LSH near-dup
    // removal, and embedding-cosine near-dup removal over the paired
    // embeddings table, in one declarative plan. Each stage contributes
    // a keep/drop set; semi/anti joins intersect them. At 100 TB every
    // stage keeps its shape: narrow maps for scoring, bucket-key shuffles
    // for LSH, ANN-bucketed candidate pairs for embeddings.
    QueryDef(
      "q99_curate",
      (s, dir) => {
        val docs = Engine.table(s, dir, "documents")
        val quality = docs
          .withColumn("toks", Tokenize.toksExpr)
          // integer-only predicates: diversity >= 0.5 as 2*distinct >= n
          .filter(size(col("toks")) >= 20 &&
            size(array_distinct(col("toks"))) * 2 >= size(col("toks")))
          .select(col("doc_id"))
        val exactKeep = docs
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        val nearDrop = minhashPairs(s, dir).select(col("id_b")).distinct()
        // same ANN-bucketed drop set (and threshold) as q57 — single
        // source of truth; candidates from band collisions, exact verify
        val embDrop = SimilarityOps.embDropIds(s, dir)
        docs
          .join(quality, Seq("doc_id"), "left_semi")
          .join(exactKeep, Seq("doc_id"), "left_semi")
          .join(nearDrop, docs("doc_id") === nearDrop("id_b"), "left_anti")
          .join(embDrop, docs("doc_id") === embDrop("id_b"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$minhashPairsSql,
             q AS (SELECT doc_id FROM t
               WHERE len(toks) >= 20 AND 2 * len(list_distinct(toks)) >= len(toks)),
             ek AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
             temb AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                 list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
               FROM embeddings),
             ${SimilarityOps.embDropSql("temb")}
             SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
             FROM documents d
             WHERE d.doc_id IN (SELECT doc_id FROM q)
               AND d.doc_id IN (SELECT doc_id FROM ek)
               AND NOT EXISTS (SELECT 1 FROM v WHERE v.id_b = d.doc_id)
               AND d.doc_id NOT IN (SELECT id_b FROM embp)
             ORDER BY d.doc_id""")
    ),
    // --------------------------------------------------------------- q100
    // Passage-level exact dedup (the RefinedWeb/CCNet shape): tile each
    // doc into consecutive 10-token passages, hash each tile, and report
    // per doc how many of its distinct tiles also occur in ANOTHER doc.
    // Catches partial duplication (shared boilerplate, quoted passages)
    // that whole-doc hashing misses. Scale shape: narrow map to tiles,
    // ONE shuffle on the tile hash to count distinct docs per tile, then
    // a re-join of tile->dup-flag back to docs — at 100 TB this is scan +
    // two hash shuffles, no quadratic step anywhere.
    QueryDef(
      "q100_passage_dedup",
      (s, dir) => {
        val tiles = Engine
          .table(s, dir, "documents")
          .withColumn("toks", Tokenize.toksExpr)
          .filter(size(col("toks")) >= 10)
          .select(
            col("doc_id"),
            explode(expr(
              "transform(sequence(0, size(toks) div 10 - 1), " +
                "i -> md5(concat_ws(' ', slice(toks, i * 10 + 1, 10))))"
            )).as("tile")
          )
          .distinct() // per-doc distinct tiles
          // materialized once: read by the dup-tile aggregation AND the
          // per-doc re-join below
          .localCheckpoint(eager = false)
        val dupTiles = tiles
          .groupBy(col("tile"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("tile"))
        tiles
          .join(dupTiles.withColumn("is_dup", lit(1L)), Seq("tile"), "left")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tiles"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_tiles")
          )
          // parts-per-million by INTEGER division: round(nd/nt, 6) on
          // doubles is not engine-exact (Spark rounds the shortest decimal
          // repr via BigDecimal, DuckDB rounds the binary double — boundary
          // fractions flip the last digit); (nd * 1e6) div nt is
          .withColumn("dup_ppm", expr("(n_dup_tiles * 1000000) div n_tiles"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksCte,
             tiles AS (
               SELECT DISTINCT doc_id,
                 md5(array_to_string(toks[i*10+1 : i*10+10], ' ')) AS tile
               FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) // 10 - 1)) AS i
                     FROM t WHERE len(toks) >= 10)),
             dup AS (SELECT tile FROM tiles GROUP BY tile HAVING count(DISTINCT doc_id) >= 2)
             SELECT t.doc_id, count(*) AS n_tiles,
               CAST(sum(CASE WHEN d.tile IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tiles,
               CAST(sum(CASE WHEN d.tile IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                 // count(*) AS BIGINT) AS dup_ppm
             FROM tiles t LEFT JOIN dup d USING (tile)
             GROUP BY t.doc_id ORDER BY t.doc_id""")
    ),
    // ---------------------------------------------------------------- q53
    // SimHash: 32-bit fingerprint from shingle hashes; near-dups have
    // small Hamming distance. Per-doc fingerprints (pairs = q74).
    QueryDef(
      "q53_simhash",
      (s, dir) => simhash(s, dir).orderBy(col("doc_id")),
      Some(s"""$simhashSql
             SELECT doc_id, simhash FROM sim ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q74
    // SimHash near-dup pairs at Hamming distance <= 3 via banded LSH:
    // split the 32-bit fingerprint into 4 bytes — by pigeonhole, any
    // pair within distance 3 agrees on at least one byte, so the
    // byte-equality join finds EVERY qualifying pair (exact, not
    // approximate); verification is one codegen'd bit_count(xor) per
    // candidate. Same shuffle economics as q52: candidates join on tiny
    // band keys, never all-pairs.
    QueryDef(
      "q74_simhash_pairs",
      (s, dir) => {
        // the simhash table is materialized first: without the barrier,
        // the join-side isnotnull(bv) filters inline the full 32-bit
        // majority-vote expression (64 re-evaluations of the shingle
        // hash array per doc) into a pre-shuffle single-partition filter
        val bands = simhash(s, dir)
          .localCheckpoint(eager = false)
          .select(
            col("doc_id"),
            col("simhash"),
            explode(expr(
              "transform(sequence(0, 3), i -> named_struct('bi', i, 'bv', (simhash div shiftleft(1L, 8 * i)) % 256))"
            )).as("b")
          )
          .select(col("doc_id"), col("simhash"), col("b.bi").as("bi"), col("b.bv").as("bv"))
          .repartition(col("bi"), col("bv"))
        bands
          .as("l")
          .hint("merge")
          .join(
            bands.as("r"),
            col("l.bi") === col("r.bi") && col("l.bv") === col("r.bv") &&
              col("l.doc_id") < col("r.doc_id")
          )
          .select(
            col("l.doc_id").as("id_a"),
            col("r.doc_id").as("id_b"),
            expr("bit_count(l.simhash ^ r.simhash)").cast("long").as("hamming")
          )
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""$simhashSql
             SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
             FROM sim a JOIN sim b ON a.doc_id < b.doc_id
               AND bit_count(xor(a.simhash, b.simhash)) <= 3
             ORDER BY id_a, id_b""")
    ),
    // --------------------------------------------------------------- q126
    // Incremental dedup — the daily-crawl shape: dedupe a NEW batch
    // (docs with doc_id % 5 = 0 stand in for today's arrivals) against
    // the standing corpus's content-hash index (the rest), keeping only
    // batch docs that are first-of-hash within the batch AND absent from
    // history. At 100 TB the history side is a compact persisted hash
    // index; the batch anti-joins against it on the hash key — one
    // shuffle proportional to the BATCH, never a recluster of the
    // corpus. This is what makes dedup sustainable day over day: q50
    // recomputes the world, q126 only touches the delta.
    QueryDef(
      "q126_incremental_dedup",
      (s, dir) => {
        val docs = Engine
          .table(s, dir, "documents")
          .withColumn("h", md5(col("text")))
        val hist = docs.filter(col("doc_id") % 5 =!= 0).select(col("h")).distinct()
        val batch = docs.filter(col("doc_id") % 5 === 0)
        val firstInBatch = batch.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        batch
          .join(firstInBatch.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .join(hist, Seq("h"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some(incrementalOracleSql)
    ),
    // --------------------------------------------------------------- q136
    // Persisted-index incremental dedup — q126's missing production
    // half. q126 recomputes the history hash index from the corpus every
    // run (fine as a query; wrong as a daily job — the whole point of
    // incremental dedup is NOT re-hashing 100 TB each day). Here the
    // index is a real stored artifact: day 0 hashes the standing corpus
    // ONCE into a range-clustered parquet index (Layout.compact on the
    // hash key, so the anti-join's shuffle reads sorted, stats-pruned
    // files); day 1 hashes only its batch, anti-joins the STORED index
    // — the day-1 plan reads exactly two sources, the batch slice and
    // the index, with no md5 over the corpus (pinned in
    // IncrementalIndexSpec) — and appends only its own new hashes, so
    // day 2 starts from an index that grew by the delta. Same survivors
    // as q126, so the same oracle gates it.
    QueryDef(
      "q136_dedup_index_persist",
      (s, dir) => {
        val work = Engine.scratchDir("q136", dir).toString
        val indexDir = buildHashIndex(s, dir, work)
        val survivors = incrementalAgainstIndex(s, dir, indexDir)
          // materialize BEFORE the index append: the plan is lazy, and
          // appending first would make the anti-join see the batch's own
          // hashes and drop everything
          .localCheckpoint()
        survivors.select(col("h")).distinct().write.mode("append").parquet(indexDir)
        survivors.select(col("doc_id"), col("lang"), col("source")).orderBy(col("doc_id"))
      },
      Some(incrementalOracleSql)
    ),
    // --------------------------------------------------------------- q127
    // Curation drop-reasons report — the explainability side of q99:
    // one row per (rejected doc, rule), over the SAME building blocks
    // the pipeline uses (tokenizer/quality thresholds, exact-hash keep
    // rule, MinHash-LSH verified pairs, ANN-bucketed embedding pairs).
    // Production pipelines ship this table next to the curated corpus
    // so every exclusion is auditable; a doc can appear under several
    // reasons. Same shuffle economics as the stages it mirrors.
    QueryDef(
      "q127_drop_reasons",
      (s, dir) => {
        val docs = Engine.table(s, dir, "documents")
        val toks = docs.select(col("doc_id"), Tokenize.toksExpr.as("toks"))
        val tooShort = toks
          .filter(size(col("toks")) < 20)
          .select(col("doc_id"), lit("too_short").as("reason"))
        val lowDiv = toks
          .filter(size(array_distinct(col("toks"))) * 2 < size(col("toks")))
          .select(col("doc_id"), lit("low_diversity").as("reason"))
        val dh = docs.select(col("doc_id"), md5(col("text")).as("h"))
        val keep = dh.groupBy(col("h")).agg(min(col("doc_id")).as("k"))
        val exactDup = dh
          .join(keep, "h")
          .filter(col("doc_id") =!= col("k"))
          .select(col("doc_id"), lit("exact_dup").as("reason"))
        val nearDup = minhashPairs(s, dir)
          .select(col("id_b").as("doc_id"))
          .distinct()
          .select(col("doc_id"), lit("near_dup").as("reason"))
        val embDup = SimilarityOps
          .embDropIds(s, dir)
          .select(col("id_b").as("doc_id"))
          .distinct()
          .select(col("doc_id"), lit("emb_near_dup").as("reason"))
        Seq(tooShort, lowDiv, exactDup, nearDup, embDup)
          .reduce(_.unionAll(_))
          .orderBy(col("doc_id"), col("reason"))
      },
      Some(s"""$minhashPairsSql,
             temb AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
                 list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
               FROM embeddings),
             ${SimilarityOps.embDropSql("temb")},
             dh AS (SELECT doc_id, md5(text) AS h FROM documents),
             keep AS (SELECT h, min(doc_id) AS k FROM dh GROUP BY h)
             SELECT doc_id, reason FROM (
               SELECT doc_id, 'too_short' AS reason FROM t WHERE len(toks) < 20
               UNION ALL
               SELECT doc_id, 'low_diversity' FROM t
               WHERE 2 * len(list_distinct(toks)) < len(toks)
               UNION ALL
               SELECT dh.doc_id, 'exact_dup' FROM dh JOIN keep ON dh.h = keep.h
               WHERE dh.doc_id <> keep.k
               UNION ALL
               SELECT DISTINCT id_b, 'near_dup' FROM v
               UNION ALL
               SELECT DISTINCT id_b, 'emb_near_dup' FROM embp)
             ORDER BY doc_id, reason""")
    ),
    // --------------------------------------------------------------- q128
    // Boilerplate scrub — q100's diagnosis applied destructively (the
    // CCNet/RefinedWeb passage-removal shape): every 10-token tile that
    // occurs in >= 2 distinct docs is REMOVED from each doc, the
    // remaining tiles (plus the <10-token tail) are stitched back in
    // order, and the cleaned text is emitted as token count + md5 so the
    // rewrite itself is hash-verified. Scale shape: tile hashing is a
    // narrow map, commonness is ONE shuffle on the tile hash, and the
    // rebuild is a per-doc local transform after a drop-index join —
    // no quadratic step, corpus never materializes twice.
    QueryDef(
      "q128_boilerplate_scrub",
      (s, dir) => {
        val d = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), Tokenize.toksExpr.as("toks"))
          // barrier: toks is reused by the tile explode AND the rebuild
          .repartition(col("doc_id"))
          .filter(size(col("toks")) >= 10)
        val th = d.select(
          col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, size(toks) div 10 - 1), " +
              "i -> md5(concat_ws(' ', slice(toks, i * 10 + 1, 10))))"
          )).as(Seq("i", "th"))
        )
        val common = th
          .groupBy(col("th"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("th"))
        val dropIdx = th
          .join(common, "th")
          .groupBy(col("doc_id"))
          .agg(collect_set(col("i")).as("drop_i"))
        d.join(dropIdx, Seq("doc_id"), "left")
          .withColumn("drop_i", coalesce(col("drop_i"), typedLit(Array.empty[Int])))
          .withColumn(
            "kept",
            expr(
              """concat(
                   flatten(transform(
                     filter(sequence(0, size(toks) div 10 - 1),
                            i -> NOT array_contains(drop_i, i)),
                     i -> slice(toks, i * 10 + 1, 10))),
                   slice(toks, (size(toks) div 10) * 10 + 1,
                         size(toks) - (size(toks) div 10) * 10))"""
            )
          )
          .select(
            col("doc_id"),
            size(col("kept")).cast("long").as("n_kept_toks"),
            size(col("drop_i")).cast("long").as("n_dropped_tiles"),
            md5(concat_ws(" ", col("kept"))).as("clean_md5")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksCte,
             d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 10),
             th AS (SELECT doc_id, i, md5(array_to_string(toks[i*10+1 : i*10+10], ' ')) AS th
               FROM (SELECT doc_id, toks,
                       unnest(generate_series(0, len(toks) // 10 - 1)) AS i FROM d)),
             common AS (SELECT th FROM th GROUP BY th HAVING count(DISTINCT doc_id) >= 2),
             di AS (SELECT doc_id, list(DISTINCT i) AS drop_i
               FROM th JOIN common USING (th) GROUP BY doc_id),
             r AS (SELECT d.doc_id,
                 flatten(list_transform(
                   list_filter(generate_series(0, len(d.toks) // 10 - 1),
                     i -> NOT list_contains(coalesce(di.drop_i, CAST([] AS BIGINT[])), i)),
                   i -> d.toks[i*10+1 : i*10+10]))
                 || d.toks[(len(d.toks) // 10) * 10 + 1 :] AS kept,
                 coalesce(len(di.drop_i), 0) AS nd
               FROM d LEFT JOIN di USING (doc_id))
             SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept_toks,
               CAST(nd AS BIGINT) AS n_dropped_tiles,
               -- array_to_string([]) is NULL in DuckDB but '' under
               -- Spark's concat_ws — coalesce so a fully-scrubbed doc
               -- hashes identically in both engines
               md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
             FROM r ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q150
    // Perceptual-hash near-dup over the MULTIMODAL byte payload: the
    // aHash scheme (mean-threshold bitmap of the decoded image) with the
    // decode step stubbed as "first 62 bytes of the payload" (the
    // image/audio codecs aren't in this container — q70/q71's
    // convention; the Spark-side shape is the real thing: a narrow
    // per-row hash, 4-band LSH bucketing, candidates-only verify).
    // 62 bits, not 64: the hash stays in BIGINT's positive range, so
    // the band extraction's integer division floors identically in both
    // engines (negative div is the one cross-engine trap — q147's
    // offset note). 4 bands over Hamming radius 3 is EXACT by
    // pigeonhole (q74's argument): every pair within distance 3 shares
    // at least one untouched 16-bit band, so the bucket join misses
    // nothing. Zero-length payloads are filtered in BOTH engines: with
    // m = 0 Spark's sequence(0, -1) is a DESCENDING [0, -1] (default
    // step -1 when start > stop) which would fabricate ahash = 0 and
    // spurious hamming-0 pairs, while DuckDB's generate_series(0, -1)
    // is empty and NULLs the doc out — a latent cross-engine mismatch
    // AND wrong pairs, so neither engine ever sees m = 0 (an empty
    // payload has no perceptual content to match anyway). At 100 TB:
    // hashes are one narrow map, candidates join on tiny (band, value)
    // keys, and degenerate buckets are capped — never all-pairs. The
    // cap matters HERE more than anywhere: bands are 16-bit slices of a
    // header-prefix hash, and real image corpora cluster heavily on
    // format headers (every JPEG shares header structure; blank
    // payloads all hash alike), so one hot (bi, bv) bucket would fan
    // out B^2 candidate rows before the hamming filter. Same
    // map-side-combined count + broadcast anti-join form as q155
    // (mirrored in the oracle with QUALIFY, as q151 does) — the
    // exploded band table itself never reshuffles for the cap.
    QueryDef(
      "q150_phash_neardup",
      (s, dir) => {
        val ah = Engine
          .table(s, dir, "documents")
          // one-file scan -> spread the per-doc byte hashing
          .repartition(col("doc_id"))
          .select(col("doc_id"), col("text").cast("binary").as("b"))
          .filter(octet_length(col("b")) >= 1)
          .withColumn("hx", lower(hex(col("b"))))
          .withColumn("m", least(lit(62), octet_length(col("b"))))
          .withColumn(
            "bs",
            expr("""transform(sequence(0, m - 1), j ->
                   (instr('0123456789abcdef', substr(hx, 2*j+1, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(hx, 2*j+2, 1)) - 1))""")
          )
          .withColumn("mean", expr("aggregate(bs, 0L, (a, x) -> a + x) div m"))
          .withColumn(
            "ahash",
            expr("""aggregate(sequence(1, size(bs)), 0L, (a, j) ->
                   a + if(element_at(bs, j) >= mean, shiftleft(1L, j - 1), 0L))""")
          )
          .select(col("doc_id"), col("ahash"))
          .localCheckpoint(eager = false)
        val bands0 = ah.select(
          col("doc_id"),
          col("ahash"),
          explode(expr(
            "transform(sequence(0, 3), i -> named_struct('bi', i, 'bv', (ahash div shiftleft(1L, 16 * i)) % 65536))"
          )).as("bb")
        ).select(col("doc_id"), col("ahash"), col("bb.bi").as("bi"), col("bb.bv").as("bv"))
          .localCheckpoint(eager = false)
        // hot-bucket cap, q155's form: bucket populations aggregate
        // map-side (only (bi, bv, count) rows cross the wire), the few
        // over-cap buckets broadcast back as an anti-join blacklist
        val hot = bands0
          .groupBy(col("bi"), col("bv"))
          .agg(count(lit(1)).as("bc"))
          .filter(col("bc") > maxBucketSize)
          .select(col("bi"), col("bv"))
        val bands = bands0.join(broadcast(hot), Seq("bi", "bv"), "left_anti")
        bands
          .as("a")
          .join(
            bands.as("b"),
            col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
              col("a.doc_id") < col("b.doc_id")
          )
          .select(
            col("a.doc_id").as("id_a"),
            col("b.doc_id").as("id_b"),
            bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).cast("long").as("hamming")
          )
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy(col("hamming"), col("id_a"), col("id_b"))
      },
      Some("""WITH p AS (SELECT doc_id, encode(text) AS b FROM documents
                     WHERE octet_length(encode(text)) >= 1),
             h0 AS (SELECT doc_id, lower(hex(b)) AS hx,
                    least(62, octet_length(b)) AS m FROM p),
             by0 AS (SELECT doc_id, m, list_transform(generate_series(0, m - 1), j ->
                     CAST((strpos('0123456789abcdef', substr(hx, 2*j+1, 1)) - 1) * 16
                        + (strpos('0123456789abcdef', substr(hx, 2*j+2, 1)) - 1) AS BIGINT)) AS bs
                     FROM h0),
             mn AS (SELECT doc_id, bs, list_sum(bs) // m AS mean FROM by0),
             ah AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(1, len(bs)), j ->
                     CASE WHEN bs[j] >= mean THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END))
                     AS BIGINT) AS ahash FROM mn),
             bb0 AS (SELECT doc_id, ahash, bi,
                     (ahash // (CAST(1 AS BIGINT) << (16 * CAST(bi AS INTEGER)))) % 65536 AS bv
                    FROM ah, UNNEST(generate_series(0, 3)) AS t(bi)),
             bb AS (SELECT doc_id, ahash, bi, bv FROM bb0
                    QUALIFY count(*) OVER (PARTITION BY bi, bv) <= 1000),
             cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
                      FROM bb a JOIN bb b
                        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
             SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3
             ORDER BY hamming, id_a, id_b""")
    ),
    // --------------------------------------------------------------- q151
    // Cross-document winnowing collisions: pairs sharing >= 15 winnow
    // fingerprints (q48's MOSS sketch turned into a detector — the
    // plagiarism/approximate-containment shape, catching PARTIAL overlap
    // that whole-document MinHash dilutes away). Inverted index on the
    // fingerprint, hot-fingerprint cap at 50 docs (boilerplate shingles
    // would fan out B^2 pairs — the q143 hot-slot pattern, reproduced
    // in the oracle), pair-count aggregation over candidates only. At
    // 100 TB: fingerprints shuffle on their own hash, buckets are
    // bounded, the pair agg touches only co-bucketed docs.
    QueryDef(
      "q151_winnow_pairs",
      (s, dir) => {
        // BARRIER BEFORE THE EXPLODE (the q74 tiles lesson, one level
        // earlier): Generate(explode(fps)) plants an implicit
        // isnotnull/size filter that INLINES the fps expression, and
        // filter pushdown carries that whole nested-transform DAG below
        // the repartition to the single-file scan — measured as ONE
        // task grinding 39 CPU-minutes at the 10x replica. Checkpoint
        // the (doc_id, fps ARRAY) projection first so every downstream
        // reference (the explode, the hot-fp window, both self-join
        // sides) reads materialized arrays. The repartition spreads the
        // md5-gram grinding across cores before that.
        val fdocs = Engine
          .table(s, dir, "documents")
          .repartition(col("doc_id"))
          .withColumn("t", lower(col("text")))
          .filter(length(col("t")) >= 8)
          // native single-pass kernels (GramHash): bit-identical to the
          // transform/md5/array_min HOF forms, without the interpreted
          // per-position lambda walks (GramHashSpec pins equality)
          .withColumn("h", graft.functions.TextHashOps.charGramMd5s(col("t"), 5))
          .withColumn(
            "fps",
            array_distinct(graft.functions.TextHashOps.slidingMin(col("h"), 4))
          )
          .select(col("doc_id"), col("fps"))
          .localCheckpoint(eager = false)
        // Hot-fingerprint cap in q155's broadcast anti-join form (the
        // uniform idiom across all three banded pipelines): fingerprint
        // populations aggregate map-side — only (fp, count) rows cross
        // the wire and the hash-agg replaces the old window form's
        // full sort of the exploded table inside its exchange — and the
        // few over-cap fingerprints broadcast back as a blacklist. The
        // exploded table is barriered once and feeds the count and both
        // self-join sides.
        val fps0 = fdocs
          .select(col("doc_id"), explode(col("fps")).as("fp"))
          .localCheckpoint(eager = false)
        val hotFp = fps0
          .groupBy(col("fp"))
          .agg(count(lit(1)).as("nfp"))
          .filter(col("nfp") > 50)
          .select(col("fp"))
        val fps = fps0.join(broadcast(hotFp), Seq("fp"), "left_anti")
        fps
          .as("a")
          .join(fps.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 15)
          .orderBy(col("n_shared").desc, col("id_a"), col("id_b"))
      },
      Some(s"""WITH $winnowCtes,
             fpx AS (SELECT doc_id, unnest(fps) AS fp FROM t2),
             fpc AS (SELECT doc_id, fp FROM fpx
                     QUALIFY count(*) OVER (PARTITION BY fp) <= 50),
             pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
                    FROM fpc a JOIN fpc b ON a.fp = b.fp AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
             SELECT id_a, id_b, n_shared FROM pr WHERE n_shared >= 15
             ORDER BY n_shared DESC, id_a, id_b""")
    ),
    // --------------------------------------------------------------- q155
    // FUZZY benchmark decontamination: near-duplicate contamination
    // between the held-out benchmark (source = 'src0', the q64
    // convention) and the training corpus. q64 catches verbatim 5-gram
    // overlap; paraphrased or lightly-edited benchmark leakage needs the
    // near-dup machinery — MinHash band buckets between the two corpora
    // (same 8-hash/4-band scheme as q52), then exact shingle-Jaccard
    // >= 0.3 verification on candidates only. Per contaminated train doc:
    // how many distinct benchmark docs it near-matches and the worst
    // (max) Jaccard. Scale shape: the BENCHMARK band table is broadcast
    // (an eval set is small by construction), so the corpus side streams
    // through candidate generation with no shuffle; the train-side
    // hot-bucket cap (q52's, mirrored in the oracle) bounds degenerate
    // boilerplate buckets; the exact verify joins fetch shingles for
    // candidates only, with the bench shingle side broadcast too.
    QueryDef(
      "q155_fuzzy_decontaminate",
      (s, dir) => {
        // one barriered shingle table feeds both corpora and the verify
        // joins (the q52 materialization lesson)
        val shAll = withShingles(Engine.table(s, dir, "documents"))
          .select(col("doc_id"), col("source"), col("sg"))
          .localCheckpoint(eager = false)
        def bandsOf(df: DataFrame): DataFrame = df
          .withColumn("sig", graft.functions.TextHashOps.minhashSig(col("sg"), 8))
          .select(
            col("doc_id"),
            explode(
              array((0 until 4).map(b =>
                md5(concat(element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2)))
              ): _*)
            ).as("bucket")
          )
        val bench = shAll.filter(col("source") === "src0").select(col("doc_id"), col("sg"))
        val train = shAll.filter(col("source") =!= "src0").select(col("doc_id"), col("sg"))
        // Hot-bucket cap WITHOUT shuffling the corpus band rows (q52's
        // window form would): bucket populations aggregate map-side
        // (only (bucket, count) rows cross the wire), the few buckets
        // over the cap broadcast back as an anti-join blacklist —
        // boilerplate buckets are rare by nature, so the hot list stays
        // broadcast-sized at any corpus scale. The band table is
        // barriered once and feeds both the count and the anti-join.
        val tb0 = bandsOf(train).localCheckpoint(eager = false)
        val hot = tb0
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("bc"))
          .filter(col("bc") > maxBucketSize)
          .select(col("bucket"))
        val trainBands = tb0.join(broadcast(hot), Seq("bucket"), "left_anti")
        val benchBands = bandsOf(bench).withColumnRenamed("doc_id", "bench_id")
        val cand = trainBands
          .join(broadcast(benchBands), "bucket")
          .select(col("doc_id"), col("bench_id"))
          .distinct()
        cand
          .join(train.as("x"), "doc_id")
          .join(broadcast(bench.as("y").withColumnRenamed("doc_id", "bench_id")), "bench_id")
          .withColumn("j", jaccard(col("x.sg"), col("y.sg")))
          .filter(col("j") >= 0.3)
          .groupBy(col("doc_id"))
          .agg(
            countDistinct(col("bench_id")).as("n_bench_dups"),
            round(max(col("j")), 6).as("max_j")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""$shinglesSql,
             m AS (SELECT doc_id, source, sg,
               ${graft.functions.TextHashOps.sigSql()} AS sig
               FROM sh),
             bb0 AS (SELECT doc_id, source, ${graft.functions.TextHashOps.bandBucketsSql("sig", 4, 2)} AS bucket FROM m),
             tb AS (SELECT doc_id, bucket FROM bb0 WHERE source <> 'src0'
                    QUALIFY count(*) OVER (PARTITION BY bucket) <= 1000),
             nb AS (SELECT doc_id AS bench_id, bucket FROM bb0 WHERE source = 'src0'),
             cand AS (SELECT DISTINCT tb.doc_id, nb.bench_id
                      FROM tb JOIN nb ON tb.bucket = nb.bucket),
             v0 AS (SELECT c.doc_id, c.bench_id,
                 len(list_intersect(x.sg, y.sg)) AS i, len(x.sg) AS la, len(y.sg) AS lb
               FROM cand c JOIN sh x ON x.doc_id = c.doc_id
                           JOIN sh y ON y.doc_id = c.bench_id),
             v AS (SELECT doc_id, bench_id, CAST(i AS DOUBLE) / (la + lb - i) AS j FROM v0
               WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.3)
             SELECT doc_id, count(DISTINCT bench_id) AS n_bench_dups,
               round(max(j), 6) AS max_j
             FROM v GROUP BY doc_id ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q156
    // EXACT repeated-substring dedup — the span-removal operator from
    // the public "Deduplicating Training Data Makes Language Models
    // Better" line of work (ExactSubstr): find >= 10-token substrings
    // occurring in >= 2 DISTINCT documents and emit, per document, the
    // MAXIMAL removal spans they cover (1-based inclusive token
    // offsets). Complements the rest of the family: q50 removes whole
    // duplicate docs, q100 drops fixed non-overlapping 10-token tiles,
    // q64/q155 DETECT leakage — this finds arbitrary-alignment shared
    // spans and says exactly which token ranges to cut. Spark-first
    // shape instead of the paper's monolithic suffix array: positional
    // 10-token gram hashes (every alignment, not q100's stride-10
    // tiles), one hash-agg on the gram key for the >= 2-distinct-docs
    // test, a join back for hit positions, then per-doc run-length
    // merging — two fixed-length shared grams starting <= 10 tokens
    // apart overlap or touch, so islands of hits collapse into maximal
    // spans via lag + running sum inside a per-doc window (bounded by
    // document length, never corpus-wide). Scale: grams are the unit of
    // work — ONE shuffle on the gram hash + the hit join, linear in
    // corpus token volume, no pair enumeration anywhere; md5 gram keys
    // keep the shuffle narrow regardless of gram text width.
    QueryDef(
      "q156_dup_spans",
      (s, dir) =>
        dupSpanRows(s, dir)
          .select(
            col("doc_id"),
            col("span_start"),
            col("span_end"),
            (col("span_end") - col("span_start") + 1L).as("span_toks")
          )
          .orderBy(col("doc_id"), col("span_start")),
      Some(s"""$dupSpansSql
             SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
               CAST(span_end AS BIGINT) AS span_end,
               CAST(span_end - span_start + 1 AS BIGINT) AS span_toks
             FROM sp ORDER BY doc_id, span_start""")
    ),
    // --------------------------------------------------------------- q157
    // Duplicated-token FRACTION per document — q156's span coverage
    // turned into the filterable curation signal: what share of each
    // doc's tokens sits inside a cross-document shared span (exact
    // integer ppm). This is the number a quality gate thresholds on
    // ("drop docs that are > X% duplicated text") and the per-doc
    // decomposition of the corpus-level "fraction of data duplicated"
    // statistic the public dedup work reports. Every document with at
    // least one token appears — dup_ppm = 0 when nothing is shared
    // (left join + coalesce), including docs too short to carry a
    // 10-token gram. Scale adds nothing beyond q156: one more hash-agg
    // over the (already bounded) span rows and a join against the
    // narrow (doc_id, n_toks) projection.
    QueryDef(
      "q157_dup_fraction",
      (s, dir) => {
        val toksN = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), size(Tokenize.toksExpr).cast("long").as("n_toks"))
          .filter(col("n_toks") >= 1)
        val perDoc = dupSpanRows(s, dir)
          .groupBy(col("doc_id"))
          .agg(sum(col("span_end") - col("span_start") + 1L).as("dup"))
        toksN
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("dup_toks", coalesce(col("dup"), lit(0L)))
          .select(
            col("doc_id"),
            col("n_toks"),
            col("dup_toks"),
            expr("dup_toks * 1000000 div n_toks").as("dup_ppm")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""$dupSpansSql,
             a AS (SELECT doc_id, sum(span_end - span_start + 1) AS dup
                   FROM sp GROUP BY doc_id),
             d AS (SELECT doc_id, len(toks) AS n_toks FROM t WHERE len(toks) >= 1)
             SELECT d.doc_id, CAST(n_toks AS BIGINT) AS n_toks,
               CAST(coalesce(dup, 0) AS BIGINT) AS dup_toks,
               CAST(coalesce(dup, 0) * 1000000 // n_toks AS BIGINT) AS dup_ppm
             FROM d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id""")
    ),
    // --------------------------------------------------------------- q158
    // Content-defined chunking (CDC) dedup — the storage-layer dedup
    // shape: cut each document at CONTENT-ALIGNED boundaries (positions
    // whose 8-char rolling window hashes to a '0'-prefixed md5, ~1/16
    // of positions -> ~16-char expected chunks), hash the chunks, and
    // count cross-document chunk sharing. Content alignment is the
    // point: an insertion shifts every q100 fixed tile after it, but
    // CDC boundaries re-synchronize within one window, so shared
    // suffixes keep matching — the rsync/LBFS/backup-dedup argument,
    // complementing q156's token-gram spans at the byte/char layer.
    // Per doc: chunk count, chunks also present in ANOTHER doc, and
    // the shared fraction by character mass (exact integer ppm).
    // Scale shape: boundary detection is the native char-gram kernel
    // (one pass per doc); the per-doc cut/chunk assembly is a HOF over
    // the ~L/16-element cut array (bounded by doc length, never
    // corpus-wide); cross-doc sharing is ONE hash-agg on the chunk
    // hash + a broadcast-sized shared-hash anti... semi-join back —
    // linear in corpus chars, the q154/q156 shuffle discipline.
    QueryDef(
      "q158_cdc_dedup",
      (s, dir) => {
        // barrier the (doc_id, L, chunk-hash array) projection before
        // the explode (q151/q154/q156's lesson)
        val chunked = Engine
          .table(s, dir, "documents")
          .repartition(col("doc_id"))
          .withColumn("t", col("text"))
          .filter(length(col("t")) >= 1)
          .withColumn("L", length(col("t")).cast("long"))
          .withColumn("h", graft.functions.TextHashOps.charGramMd5s(col("t"), 8))
          .withColumn(
            "cuts",
            // guard: sequence(2, x) DESCENDS when x < 2 (the q150
            // empty-payload trap) — short docs get zero cuts explicitly
            expr("""case when L >= 9
                    then filter(sequence(2, cast(L as int) - 7), i -> substr(element_at(h, i), 1, 1) = '0')
                    else array() end""")
          )
          .withColumn("starts", expr("concat(array(1), cuts)"))
          .withColumn("ends", expr("concat(transform(cuts, c -> c - 1), array(cast(L as int)))"))
          .withColumn(
            "chs",
            expr("""transform(sequence(1, size(starts)), j ->
                   named_struct(
                     'ch', md5(substr(t, element_at(starts, j), element_at(ends, j) - element_at(starts, j) + 1)),
                     'cl', cast(element_at(ends, j) - element_at(starts, j) + 1 as bigint)))""")
          )
          .select(col("doc_id"), col("L"), col("chs"))
          .localCheckpoint(eager = false)
        val occ = chunked
          .select(col("doc_id"), col("L"), explode(col("chs")).as("c"))
          .select(col("doc_id"), col("L"), col("c.ch").as("ch"), col("c.cl").as("cl"))
        val shared = occ
          .groupBy(col("ch"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("ch"))
        occ
          .join(shared.withColumn("is_shared", lit(1L)), Seq("ch"), "left")
          .groupBy(col("doc_id"), col("L"))
          .agg(
            count(lit(1)).as("n_chunks"),
            sum(when(col("is_shared").isNotNull, 1L).otherwise(0L)).as("n_shared_chunks"),
            sum(when(col("is_shared").isNotNull, col("cl")).otherwise(0L)).as("sc")
          )
          .select(
            col("doc_id"),
            col("n_chunks"),
            col("n_shared_chunks"),
            expr("sc * 1000000 div L").as("shared_char_ppm")
          )
          .orderBy(col("doc_id"))
      },
      Some("""WITH d0 AS (SELECT doc_id, text AS t, length(text) AS L
                FROM documents WHERE length(text) >= 1),
             cu AS (SELECT doc_id, t, L,
                 list_filter(generate_series(2, CAST(L AS INTEGER) - 7),
                   i -> substr(md5(substr(t, i, 8)), 1, 1) = '0') AS cuts
               FROM d0),
             se AS (SELECT doc_id, t, L,
                 list_prepend(1, cuts) AS starts,
                 list_append(list_transform(cuts, c -> c - 1), CAST(L AS INTEGER)) AS ends
               FROM cu),
             ch AS (SELECT doc_id, L,
                 unnest(list_transform(generate_series(1, len(starts)), j ->
                   struct_pack(ch := md5(substr(t, starts[j], ends[j] - starts[j] + 1)),
                               cl := CAST(ends[j] - starts[j] + 1 AS BIGINT)))) AS c
               FROM se),
             occ AS (SELECT doc_id, L, c.ch AS ch, c.cl AS cl FROM ch),
             sh3 AS (SELECT ch FROM occ GROUP BY ch HAVING count(DISTINCT doc_id) >= 2)
             SELECT occ.doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN sh3.ch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
               CAST(sum(CASE WHEN sh3.ch IS NOT NULL THEN cl ELSE 0 END) * 1000000 // occ.L AS BIGINT)
                 AS shared_char_ppm
             FROM occ LEFT JOIN sh3 ON occ.ch = sh3.ch
             GROUP BY occ.doc_id, occ.L ORDER BY occ.doc_id""")
    ),
    // --------------------------------------------------------------- q162
    // DESTRUCTIVE span scrub — the cleaned corpus q156's spans imply
    // (the actual output of the published exact-substring dedup:
    // remove every cross-document shared span, keep the rest), the
    // span-based analog of q128's tile scrub. Per doc: kept token
    // count, scrubbed token count, md5 of the cleaned text. Docs with
    // no shared spans pass through verbatim; a fully-duplicated doc
    // scrubs to the md5 of the empty string (q128's coalesce
    // convention — DuckDB's array_to_string of an empty list is NULL
    // where Spark's concat_ws is ''). Scale: the per-doc span list is
    // bounded by doc length, so the coverage filter is a per-row
    // lambda over (token positions x spans) — no extra shuffle beyond
    // q156's.
    QueryDef(
      "q162_span_scrub",
      (s, dir) => {
        val sp = dupSpanRows(s, dir)
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(
            col("span_start").as("s"), col("span_end").as("e")))).as("spans"))
        val d = Engine
          .table(s, dir, "documents")
          .repartition(col("doc_id"))
          .select(col("doc_id"), Tokenize.toksExpr.as("toks"))
          .filter(size(col("toks")) >= 1)
        d.join(sp, Seq("doc_id"), "left")
          .withColumn(
            "kept",
            expr("""case when spans is null then toks
                    else transform(
                      filter(sequence(1, size(toks)),
                             p -> NOT exists(spans, q -> p >= q.s AND p <= q.e)),
                      p -> element_at(toks, p)) end""")
          )
          .select(
            col("doc_id"),
            size(col("kept")).cast("long").as("n_kept_toks"),
            (size(col("toks")) - size(col("kept"))).cast("long").as("n_scrubbed_toks"),
            md5(concat_ws(" ", col("kept"))).as("clean_md5")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""$dupSpansSql,
             spl AS (SELECT doc_id,
                 list(struct_pack(s := span_start, e := span_end) ORDER BY span_start) AS spans
               FROM sp GROUP BY doc_id),
             d AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 1),
             r AS (SELECT d.doc_id, len(d.toks) AS nt,
                 CASE WHEN spl.spans IS NULL THEN d.toks
                      ELSE list_transform(
                        list_filter(generate_series(1, len(d.toks)),
                          p -> len(list_filter(spl.spans, q -> p >= q.s AND p <= q.e)) = 0),
                        p -> d.toks[p]) END AS kept
               FROM d LEFT JOIN spl USING (doc_id))
             SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept_toks,
               CAST(nt - len(kept) AS BIGINT) AS n_scrubbed_toks,
               md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5
             FROM r ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q187
    // The dedup OPERATING CURVE — the tuning table behind every banded
    // near-dup deployment: for the same 8-hash MinHash signature, the
    // three (bands x rows) configurations 8x1 / 4x2 / 2x4 trade recall
    // for candidate volume (more bands & shorter rows -> more
    // candidates, higher recall, more exact-verify work; the
    // b,r-knobs of the classic S-curve P(candidate) = 1-(1-s^r)^b).
    // Per configuration: docs flagged as candidates (share >= 1 bucket
    // with another doc), total candidate PAIRS (sum over buckets of
    // C(k,2) on distinct docs — the exact-verify bill), and
    // multi-occupant bucket count. One signature pass feeds all three
    // configs; each config is one explode + two hash aggregates, so
    // the whole curve costs three (bucket, count) shuffles — this is
    // the report you run BEFORE committing a 100 TB dedup pass to one
    // operating point.
    QueryDef(
      "q187_dedup_curve",
      (s, dir) => {
        val sig = withShingles(Engine.table(s, dir, "documents"))
          .withColumn("sig", graft.functions.TextHashOps.minhashSig(col("sg"), 8))
          .select(col("doc_id"), col("sig"))
          .localCheckpoint(eager = false) // one signature pass, three configs
        val configs = Seq(("8x1", 8, 1), ("4x2", 4, 2), ("2x4", 2, 4))
        // one declarative plan, no driver-side loop: the three configs
        // union into a config-labeled bucket stream, then two
        // config-keyed hash aggregates produce the whole curve
        val bk = configs
          .map { case (label, bands, rows) =>
            sig.select(
              lit(label).as("config"),
              col("doc_id"),
              explode(graft.functions.TextHashOps.bandBuckets(col("sig"), bands, rows))
                .as("bucket"))
          }
          .reduce(_ unionAll _)
        val multi = bk
          .groupBy(col("config"), col("bucket"))
          .agg(countDistinct(col("doc_id")).as("k"))
          .filter(col("k") > 1L)
        val fl = bk
          .join(multi.select(col("config"), col("bucket")), Seq("config", "bucket"))
          .groupBy(col("config"))
          .agg(countDistinct(col("doc_id")).as("flagged_docs"))
        val st = multi
          .groupBy(col("config"))
          .agg(
            sum(expr("k * (k - 1) div 2")).as("candidate_pairs"),
            count(lit(1)).as("multi_buckets"))
        // LEFT join from the literal config list: a configuration with
        // zero multi-occupant buckets (plausible for the strict 2x4 on
        // clean data) must report a zero row, not vanish from the curve
        import s.implicits._
        configs
          .map(_._1)
          .toDF("config")
          .join(fl, Seq("config"), "left")
          .join(st, Seq("config"), "left")
          .select(
            col("config"),
            coalesce(col("flagged_docs"), lit(0L)).as("flagged_docs"),
            coalesce(col("candidate_pairs"), lit(0L)).as("candidate_pairs"),
            coalesce(col("multi_buckets"), lit(0L)).as("multi_buckets"))
          .orderBy(col("config"))
      },
      Some(s"""WITH $toksCte,
             ${shingleMinhashCtes("toks", "t")},
             b AS (
               SELECT '8x1' AS config, doc_id, ${graft.functions.TextHashOps.bandBucketsSql("sig", 8, 1)} AS bucket
                 FROM mq
               UNION ALL
               SELECT '4x2', doc_id, ${graft.functions.TextHashOps.bandBucketsSql("sig", 4, 2)}
                 FROM mq
               UNION ALL
               SELECT '2x4', doc_id, ${graft.functions.TextHashOps.bandBucketsSql("sig", 2, 4)}
                 FROM mq),
             occ AS (SELECT config, bucket, count(DISTINCT doc_id) AS k
               FROM b GROUP BY config, bucket),
             multi AS (SELECT config, bucket, k FROM occ WHERE k > 1),
             fl AS (SELECT config, count(DISTINCT doc_id) AS flagged_docs
               FROM b JOIN multi USING (config, bucket) GROUP BY config),
             st AS (SELECT config,
                 CAST(sum(k * (k - 1) // 2) AS BIGINT) AS candidate_pairs,
                 CAST(count(*) AS BIGINT) AS multi_buckets
               FROM multi GROUP BY config),
             cfgs AS (SELECT unnest(['8x1', '4x2', '2x4']) AS config)
             SELECT cfgs.config AS config,
               CAST(coalesce(flagged_docs, 0) AS BIGINT) AS flagged_docs,
               CAST(coalesce(candidate_pairs, 0) AS BIGINT) AS candidate_pairs,
               CAST(coalesce(multi_buckets, 0) AS BIGINT) AS multi_buckets
             FROM cfgs LEFT JOIN fl ON cfgs.config = fl.config
             LEFT JOIN st ON cfgs.config = st.config ORDER BY config""")
    ),
    // --------------------------------------------------------------- q198
    // LEAKAGE-SAFE train/val/test split — the correction q130's
    // doc-level split cannot make: hashing doc_id sends near-duplicate
    // documents to DIFFERENT splits (~18% of paired docs under 90/5/5),
    // so validation scores are inflated by memorized near-copies of
    // training text. Here the split key is the near-dup CLUSTER id
    // (large-star/small-star components over the q52 verified-pair
    // graph; unpaired docs are their own singleton cluster), so an
    // entire cluster lands in one split BY CONSTRUCTION — the property
    // published dedup-aware eval splits require. The audit reports, per
    // split, the volume plus `moved_docs`: docs whose cluster-level
    // split differs from their q130 doc-level one — exactly the docs
    // that would have leaked. Scale shape: components are the bounded
    // fan-in star rounds (pairs only — the corpus never enters the CC
    // iteration), the cluster map joins back hash-on-doc_id, the split
    // draw is a narrow md5-nibble map, and the audit is a 3-row
    // aggregate.
    QueryDef(
      "q198_leakage_split",
      (s, dir) => {
        val pairs = minhashPairs(s, dir).select(col("id_a"), col("id_b"))
        val comp = starComponents(pairs).withColumnRenamed("id", "doc_id")
        val keyed = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .join(comp, Seq("doc_id"), "left")
          .withColumn("ckey", coalesce(col("comp"), col("doc_id")))
        val b = keyed
          .withColumn("bucket", graft.operators.Layout.pctBucket(col("ckey")))
          .withColumn("dbucket", graft.operators.Layout.pctBucket(col("doc_id")))
          .withColumn(
            "split",
            when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
          .withColumn(
            "dsplit",
            when(col("dbucket") < 90, "train").when(col("dbucket") < 95, "val").otherwise("test"))
        b.groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("ckey")).as("n_clusters"),
            sum(col("n_chars")).as("total_chars"),
            sum(when(col("split") =!= col("dsplit"), 1L).otherwise(0L)).as("moved_docs"))
          .orderBy(col("split"))
      },
      // the same clusters by transitive closure (the q58/q134 oracle
      // machinery), then the same two nibble draws per doc
      Some(s"""${minhashComponentsSql("compt", "comp")},
             k AS (SELECT d.doc_id, d.n_chars, coalesce(compt.comp, d.doc_id) AS ckey
               FROM documents d LEFT JOIN compt ON compt.id = d.doc_id),
             hh AS (SELECT doc_id, n_chars, ckey,
                 md5(CAST(ckey AS VARCHAR)) AS hc,
                 md5(CAST(doc_id AS VARCHAR)) AS hd
               FROM k),
             bb AS (SELECT doc_id, n_chars, ckey,
                 ${graft.operators.Layout.pctBucketSql("hc")} AS bucket,
                 ${graft.operators.Layout.pctBucketSql("hd")} AS dbucket
               FROM hh),
             sp AS (SELECT ckey, n_chars,
                 CASE WHEN bucket < 90 THEN 'train'
                      WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
                 CASE WHEN dbucket < 90 THEN 'train'
                      WHEN dbucket < 95 THEN 'val' ELSE 'test' END AS dsplit
               FROM bb)
             SELECT split, count(*) AS n_docs,
               CAST(count(DISTINCT ckey) AS BIGINT) AS n_clusters,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN split <> dsplit THEN 1 ELSE 0 END) AS BIGINT) AS moved_docs
             FROM sp GROUP BY split ORDER BY split""")
    ),
    // --------------------------------------------------------------- q205
    // Cross-source OVERLAP MATRIX — the datacard statistic that decides
    // WHERE to spend dedup effort: per unordered source pair, how many
    // verified near-dup pairs straddle the two sources (and how many
    // distinct docs on each side are involved). Public corpus reports
    // (C4 vs Wikipedia contamination, CommonCrawl dump-to-dump overlap)
    // lead with exactly this table; within-source duplication shows up
    // on the diagonal (src_a = src_b). Scale shape: the pair list is
    // the banded/verified q52 graph (never all-pairs); attaching
    // sources is two hash joins against a NARROW (doc_id, source)
    // projection; the matrix is a tiny aggregate over pair rows.
    QueryDef(
      "q205_source_overlap",
      (s, dir) => {
        val src = Engine.table(s, dir, "documents").select(col("doc_id"), col("source"))
        val pairs = minhashPairs(s, dir)
          .select(col("id_a"), col("id_b"))
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
          .select(
            least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"),
            when(col("sa") <= col("sb"), col("id_a")).otherwise(col("id_b")).as("da"),
            when(col("sa") <= col("sb"), col("id_b")).otherwise(col("id_a")).as("db"))
        pairs
          .groupBy(col("src_a"), col("src_b"))
          .agg(
            count(lit(1)).as("dup_pairs"),
            countDistinct(col("da")).as("docs_a"),
            countDistinct(col("db")).as("docs_b"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some(s"""$minhashPairsSql,
             ss AS (SELECT doc_id, source FROM documents),
             pp AS (SELECT
                 least(x.source, y.source) AS src_a,
                 greatest(x.source, y.source) AS src_b,
                 CASE WHEN x.source <= y.source THEN v.id_a ELSE v.id_b END AS da,
                 CASE WHEN x.source <= y.source THEN v.id_b ELSE v.id_a END AS db
               FROM v JOIN ss x ON v.id_a = x.doc_id JOIN ss y ON v.id_b = y.doc_id)
             SELECT src_a, src_b, count(*) AS dup_pairs,
               CAST(count(DISTINCT da) AS BIGINT) AS docs_a,
               CAST(count(DISTINCT db) AS BIGINT) AS docs_b
             FROM pp GROUP BY src_a, src_b ORDER BY src_a, src_b""")
    )
  )

  /** Connected components over an undirected pair list via iterative
    * min-id propagation WITH path compression: each round a node adopts
    * the smallest component id among itself and its neighbors, then
    * follows its component pointer one more hop (pointer halving), which
    * turns O(diameter) convergence into O(log diameter). Returns
    * (id, comp) where comp = min node id in the component. Each round is
    * two shuffle joins, with localCheckpoint truncating the growing
    * lineage. Fails loudly if the iteration cap is hit — never returns a
    * partially-converged labeling. At 100 TB you would checkpoint to
    * durable storage and use the large-star/small-star variant to bound
    * component fan-in.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .toDF("src", "dst")
      .union(pairs.toDF("dst", "src").select(col("src"), col("dst")))
      .cache()
    var comp = edges
      .select(col("src").as("id"))
      .distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(eager = false)
    var changed = 1L
    var iter = 0
    val maxIter = 25
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(comp.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("nbr_min"))
      val adopted = comp
        .withColumnRenamed("comp", "old")
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("old"), coalesce(col("nbr_min"), col("old"))).as("comp"), col("old"))
      // path compression: follow the component pointer one hop
      // (comp := comp(comp)), halving pointer-chain depth every round
      val ptr = adopted.select(col("id").as("pid"), col("comp").as("pcomp"))
      val next = adopted
        .join(ptr, col("comp") === col("pid"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("pcomp"), col("comp"))).as("comp"), col("old"))
        .localCheckpoint(eager = false)
      changed = next.filter(col("comp") =!= col("old")).count()
      comp = next.select(col("id"), col("comp"))
      iter += 1
    }
    edges.unpersist(blocking = false)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds")
    comp
  }

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the bounded-fan-in form the `connectedComponents`
    * scaladoc defers to for 100 TB. Min-propagation funnels a hub's
    * whole neighbor list through one grouping key every round; the star
    * operations only ever move edges between a node and its CURRENT
    * neighbors' minima, so per-key state stays bounded by star degree
    * while convergence is O(log^2 n) rounds. Each round is two
    * window-min passes (one shuffle each); the edge set is checkpointed
    * per round and convergence = fixed point of the edge multiset
    * (count + order-insensitive hash). Returns (id, comp) with comp =
    * min node id in the component — same contract as
    * `connectedComponents` (equivalence property-tested in
    * ComponentsSpec, gate-verified by q134 against the q58 oracle).
    */
  def starComponents(pairs: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // orient large -> small; drop self loops
    var edges = pairs
      .toDF("a", "b")
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(eager = false)
    def sig(e: DataFrame): (Long, Long) = {
      // order-insensitive multiset signature; bit_xor never overflows
      // (sum of hashes trips ANSI overflow checking)
      val r = e.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
      nbrs
        .withColumn("m", least(min(col("v")).over(W.partitionBy(col("u"))), col("u")))
        .filter(col("v") > col("u")) // only strictly-larger neighbors re-point
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val withMin =
        e.withColumn("m", least(min(col("v")).over(W.partitionBy(col("u"))), col("u")))
      withMin
        .select(col("v").as("u"), col("m").as("v"))
        .union(withMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var prev = sig(edges)
    var converged = false
    var iter = 0
    val maxIter = 25
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      val nextSig = sig(next)
      converged = nextSig == prev
      prev = nextSig
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(s"starComponents did not converge within $maxIter rounds")
    // fixed point = stars: every non-center appears in exactly one
    // (node, center) edge; centers appear as targets
    edges
      .select(col("u").as("id"), col("v").as("comp"))
      .union(edges.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** THE incremental-dedup contract, shared by q126 (recompute-world),
    * q136 (persisted index), and q174 (streaming foreachBatch ingest):
    * batch docs (doc_id % 5 = 0) that are first-of-hash within the
    * batch AND absent from the standing corpus's hash history. One SQL
    * string object for all three gates — the three execution shapes
    * cannot drift from each other. (A def: `entries` vals interpolate
    * eagerly, and this is declared after them.)
    */
  private[graft] def incrementalOracleSql: String =
    """WITH d AS (SELECT doc_id, lang, source, md5(text) AS h FROM documents),
             hist AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 0),
             b AS (SELECT * FROM d WHERE doc_id % 5 = 0),
             f AS (SELECT h, min(doc_id) AS doc_id FROM b GROUP BY h)
             SELECT b.doc_id, b.lang, b.source FROM b
             WHERE b.doc_id IN (SELECT doc_id FROM f)
               AND b.h NOT IN (SELECT h FROM hist)
             ORDER BY b.doc_id"""

  /** Day-0 step of persisted-index dedup (q136): hash the standing
    * corpus (doc_id % 5 != 0 — "everything before today") ONCE and store
    * the distinct content hashes as a range-clustered parquet index
    * under `workDir`. Returns the index directory. Overwrites any prior
    * index, so each q136 run is self-contained/idempotent.
    */
  private[graft] def buildHashIndex(s: SparkSession, dir: String, workDir: String): String = {
    val indexDir = s"$workDir/hash_index"
    graft.operators.Layout.compact(s, historyHashes(s, dir), indexDir, 4, col("h"))
    indexDir
  }

  /** The standing corpus's distinct content hashes — the day-0 input of
    * BOTH persisted-index shapes: q136's flat compacted directory
    * (above) and q174's tiered streaming index (TieredIndex.create on
    * this same frame). One definition site for "the history".
    */
  private[graft] def historyHashes(s: SparkSession, dir: String): DataFrame =
    Engine
      .table(s, dir, "documents")
      .filter(col("doc_id") % 5 =!= 0)
      .select(md5(col("text")).as("h"))
      .distinct()

  /** Day-N step of persisted-index dedup (q136): hash ONLY the batch
    * (default slice doc_id % 5 == 0; `batchPred` selects any later
    * day's slice), keep first-of-hash within the batch, anti-join
    * the STORED index. Lazy — returned with columns (doc_id, lang,
    * source, h) so the caller can both emit survivors and append their
    * hashes, then run the NEXT day's batch against the grown index —
    * the cumulative day-over-day cycle IncrementalIndexSpec pins. The
    * plan reads exactly two sources (batch slice + index parquet) and
    * computes no md5 over the standing corpus — the incremental
    * property, also pinned in IncrementalIndexSpec.
    */
  private[graft] def incrementalAgainstIndex(
      s: SparkSession,
      dir: String,
      indexDir: String,
      batchPred: Column = col("doc_id") % 5 === 0): DataFrame = {
    val batch = Engine
      .table(s, dir, "documents")
      .filter(batchPred)
      .select(col("doc_id"), col("lang"), col("source"), md5(col("text")).as("h"))
      // hash the batch ONCE: the first-of-hash aggregation and the
      // survivors join both consume this; without the checkpoint each
      // side re-scans and re-hashes the batch (same tiles pattern as
      // q100). Text is already dropped — the materialization is the
      // narrow (id, lang, source, h) projection.
      .localCheckpoint(eager = false)
    val firstInBatch = batch.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    batch
      .join(firstInBatch.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(s.read.parquet(indexDir), Seq("h"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("h"))
  }

  /** 32-bit SimHash per document: per-bit majority vote over the 32-bit
    * md5-prefix hashes of the doc's shingles. Shared by q53 (fingerprint
    * listing) and q74 (banded Hamming pair search).
    */
  private def simhash(s: SparkSession, dir: String): DataFrame =
    withShingles(Engine.table(s, dir, "documents"))
      // native one-pass kernel (GramHash.simhash32): bit-identical to
      // the conv(md5-prefix) transform + 32 aggregate/filter walks
      .withColumn("simhash", graft.functions.TextHashOps.simhash32(col("sg")))
      .select(col("doc_id"), col("simhash"))

}
