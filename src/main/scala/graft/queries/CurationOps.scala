package graft.queries

import graft.{Engine, QueryDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleSql._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw ingestion and tokenization: benchmark decontamination,
  * temperature-style source re-sampling, PII redaction, sliding-window
  * chunking, and token-budget selection. Additive to the reference
  * (whose surface is the generic pipe MapReduce, SURVEY §2.3) — these are
  * the north-star extensions the engine exists for.
  *
  * Tokenizer contract matches TextOps: lower(text) split on
  * '[^a-z0-9]+', empty tokens dropped.
  *
  * Scale notes (100 TB): q64 broadcasts the benchmark shingle set (a
  * benchmark suite is MBs vs a TB-scale corpus) so decontamination is a
  * narrow map + broadcast-hash semi-join — no shuffle of the corpus. q69
  * and q73 are a single window / pure narrow map. q84 chunking is a
  * narrow flatMap (explode) — no shuffle. q89 is an exact global prefix
  * sum implemented as range-repartition + per-partition cumsum + tiny
  * offset join, never a single-partition global window.
  */
object CurationOps {

  private def toksExpr = Tokenize.toksExpr

  /** Exploded (doc_id, source, shingle) rows — word 5-gram shingles
    * (per-doc distinct), the decontamination unit.
    *
    * Two deliberate plan-shape choices (measured 42 s -> ~1 s at sf0.1):
    * the repartition spreads the lambda-heavy shingle work across cores
    * (the local single-file parquet scan yields ONE partition — a no-op
    * narrow shuffle on a many-split table at scale); and the shingle
    * expression feeds `explode` DIRECTLY rather than being named via
    * withColumn first — exploding a named attribute lets
    * InferFiltersFromGenerate push an inferred `size(sg)>0 AND
    * isnotnull(sg)` filter below the exchange with the whole
    * higher-order expression inlined (interpreted, no subexpression
    * elimination: hundreds of tokenizer re-evaluations per doc).
    */
  private def shingleRows5(df: org.apache.spark.sql.DataFrame) =
    df.repartition(col("doc_id"))
      .select(col("doc_id"), col("source"), toksExpr.as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(
        col("doc_id"),
        col("source"),
        // native one-pass text grams, still fed to explode DIRECTLY
        // (unnamed) so InferFiltersFromGenerate has no attribute to
        // inline a duplicate construction into
        explode(array_distinct(graft.functions.TextHashOps.gramsText(col("toks"), 5))).as("sg")
      )

  private val shingles5Sql =
    s"""WITH t AS (
      SELECT doc_id, source,
        ${Tokenize.toksSql} AS toks
      FROM documents),
    sh AS (
      SELECT doc_id, source,
        list_distinct(list_transform(generate_series(1, len(toks) - 4),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sg
      FROM t WHERE len(toks) >= 5)"""

  /** q64's oracle, shared VERBATIM by q178's bloom-prefiltered replay
    * (same semantics, different physical plan), so the two gates can
    * never drift. The bloom prefilter has no false negatives, so
    * `prefilter + exact join` is value-identical to the exact join the
    * oracle expresses.
    */
  private[queries] val decontamOracleSql: String =
    s"""$shingles5Sql,
       bench AS (SELECT DISTINCT unnest(sg) AS s FROM sh WHERE source = 'src0'),
       train AS (SELECT doc_id, unnest(sg) AS s FROM sh WHERE source <> 'src0')
       SELECT doc_id, count(DISTINCT s) AS n_hits
       FROM train JOIN bench USING (s) GROUP BY doc_id ORDER BY doc_id"""

  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "\\+1-555-[0-9]{4}"

  /** q160/q161's shared engine side: DSIR importance weights per raw
    * (non-'src0') document. See q160's registry comment for the method
    * and the integer-micro-unit exactness argument.
    *
    * ACCEPTED ulp risk (documented, per round-6 advice): the tm term
    * (here) and q161's per-doc Gumbel term compare Spark's Math.log /
    * round against DuckDB's libm ln / round BEFORE the *1e6 micro-unit
    * rounding; a 1-ulp ln divergence landing within ~5e-7 of a .5e-6
    * rounding boundary would flip one micro-unit and change the hash.
    * Why accepted rather than engineered away: (a) both JVM Math.log
    * (HotSpot intrinsic) and glibc libm ln are faithfully rounded
    * (<=1 ulp) and in practice agree to the last bit on these argument
    * ranges — the q81 ln-based precedent has held across every gate;
    * (b) the alternative (a fixed-point integer log table) would have
    * to be mirrored in portable DuckDB SQL, replacing a 2-line ln with
    * a table-driven CORDIC on both engines — more cross-engine surface,
    * not less; (c) exposure is bounded: tm lives on a 256-row bucket
    * table where a flip would be caught instantly by the gate, and the
    * Gumbel term's argument u is a fixed rational grid ((h+1)/2^32+1)
    * nowhere near ln's hard cases. If a gate ever flips, the fallback
    * is to round tm/gum to 1e5 units (10x the margin) on both engines.
    */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val tk = Engine
      .table(s, dir, "documents")
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("source"), explode(toksExpr).as("tok"))
      .withColumn("b", expr("cast(conv(substr(md5(tok), 1, 4), 16, 10) as bigint) % 256"))
    val tgt = tk.filter(col("source") === "src0")
    val raw = tk.filter(col("source") =!= "src0")
    val tots = tgt
      .agg(count(lit(1)).as("t_n"))
      .crossJoin(raw.agg(count(lit(1)).as("r_n")))
    val stats = raw
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cr"))
      .join(tgt.groupBy(col("b")).agg(count(lit(1)).as("ct")), Seq("b"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .crossJoin(broadcast(tots))
      .withColumn(
        "tm",
        expr("""cast(round((ln((ct + 1.0d) / (t_n + 256)) - ln((cr + 1.0d) / (r_n + 256)))
               * 1000000d) as bigint)""")
      )
      .select(col("b"), col("tm"))
    raw
      .join(broadcast(stats), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("tm")).as("w_micro"))
  }

  /** the DSIR weight computation as DuckDB CTEs ending in
    * w(doc_id, n_toks, w_micro). (Declared before `entries`, which
    * interpolates it eagerly.)
    */
  private val dsirSql: String =
    s"""WITH t0 AS (SELECT doc_id, source, ${Tokenize.toksSql} AS toks FROM documents),
             tk AS (SELECT doc_id, source, unnest(toks) AS tok FROM t0),
             b0 AS (SELECT doc_id, source,
                 CAST(list_sum(list_transform(generate_series(1, 4),
                   k -> (strpos('0123456789abcdef', substr(md5(tok), k, 1)) - 1)
                        * power(16, 4 - k))) AS BIGINT) % 256 AS b
               FROM tk),
             ctb AS (SELECT b, count(*) AS ct FROM b0 WHERE source = 'src0' GROUP BY b),
             crb AS (SELECT b, count(*) AS cr FROM b0 WHERE source <> 'src0' GROUP BY b),
             tot AS (SELECT
                 (SELECT count(*) FROM b0 WHERE source = 'src0') AS t_n,
                 (SELECT count(*) FROM b0 WHERE source <> 'src0') AS r_n),
             stats AS (SELECT crb.b,
                 CAST(round((ln((coalesce(ctb.ct, 0) + 1.0) / (tot.t_n + 256))
                           - ln((crb.cr + 1.0) / (tot.r_n + 256))) * 1000000) AS BIGINT) AS tm
               FROM crb LEFT JOIN ctb ON crb.b = ctb.b CROSS JOIN tot),
             w AS (SELECT doc_id, count(*) AS n_toks, CAST(sum(tm) AS BIGINT) AS w_micro
               FROM b0 JOIN stats USING (b) WHERE source <> 'src0' GROUP BY doc_id)"""

  /** q164's cap: max documents kept per registered domain. */
  private[queries] val DomainCap = 20L

  // ------------------------------------------------------------ q163/q164
  // Every scalar step below is a SINGLE SQL string used verbatim by both
  // engines (Spark `expr` and DuckDB oracle interpolation) — the
  // generator and canonicalization can't drift between the two sides.
  // (Declared before `entries`, which interpolates them eagerly.)

  /** Deterministic messy-URL generator over (doc_id, lang, source):
    * mixed-case scheme/host, optional WWW., default AND non-default
    * explicit ports, trailing-slash variants, tracking + unsorted query
    * params, fragments. Dialect-shared SQL (Spark + DuckDB).
    */
  private val urlGenSql: String =
    """(CASE doc_id % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTP' ELSE 'Https' END)
       || '://'
       || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
       || lang || '.' || source || '-Press.COM'
       || (CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE ':80' END) ELSE '' END)
       || '/' || lang || '/item/' || CAST(doc_id AS STRING)
       || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
       || (CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 97 AS STRING)
                WHEN 1 THEN '?id=' || CAST(doc_id % 97 AS STRING) || '&utm_campaign=x&b=2'
                WHEN 2 THEN '?b=2&a=1' ELSE '' END)
       || (CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)"""

  // scalar canonicalization steps, each over previously-derived columns
  private val nofragSql = "regexp_replace(url, '#.*$', '')"
  private val schemeSql = "lower(regexp_extract(nofrag, '^([^:]+)://', 1))"
  private val hpSql = "lower(regexp_extract(nofrag, '^[^:]+://([^/?#]*)', 1))"
  private val path0Sql = "regexp_extract(nofrag, '^[^:]+://[^/?#]*([^?#]*)', 1)"
  // Backslash-bearing patterns CANNOT ride a shared SQL literal: Spark
  // processes backslash escapes inside '...' (escapedStringLiterals is
  // false) where DuckDB takes them raw. These two live as Scala vals —
  // passed verbatim to the Spark functions API (no literal parsing) and
  // interpolated verbatim into the DuckDB single-quoted literal.
  private val patQuery = """\?(.*)$"""
  private val patDomain = """([^.]+\.[^.]+)$"""
  private val hp2Sql =
    """CASE WHEN scheme = 'http'  AND hp LIKE '%:80'  THEN substr(hp, 1, length(hp) - 3)
            WHEN scheme = 'https' AND hp LIKE '%:443' THEN substr(hp, 1, length(hp) - 4)
            ELSE hp END"""
  private val hostSql = "CASE WHEN hp2 LIKE 'www.%' THEN substr(hp2, 5) ELSE hp2 END"
  private val cpathSql =
    """CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
            ELSE regexp_replace(path0, '/+$', '') END"""
  // utm_* tested via substr, not LIKE 'utm_%': '_' is a single-char
  // LIKE wildcard so the pattern would also strip utmX= params.
  private val paramFilterSql =
    "x -> x <> '' AND substr(x, 1, 4) <> 'utm_' AND x NOT LIKE 'fbclid=%' AND x NOT LIKE 'gclid=%' AND x NOT LIKE 'ref=%'"
  private val canonUrlSql =
    "scheme || '://' || host || cpath || (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END)"
  private val hostNpSql = "regexp_replace(host, ':[0-9]+$', '')"

  /** Append `canon_url` and `domain` to a DataFrame with a `url`
    * column — the q163 canonicalization as a reusable library step
    * ([[graft.Graft.canonicalizeUrls]]); q163/q164 route through this
    * exact chain, so the oracle hash gate covers the code users call.
    * Narrow per-row string work only. Intermediate column names
    * (nofrag, scheme, hp, path0, q0, hp2, host, cpath, cq) are
    * reserved: the call FAILS FAST if the input already has one (or
    * canon_url/domain), rather than silently overwriting and dropping
    * a caller column. The names are pinned by the shared Spark/DuckDB
    * SQL snippets, so they cannot be uniquified per call.
    */
  def canonicalizeUrls(df: DataFrame): DataFrame = {
    val reserved =
      Seq("nofrag", "scheme", "hp", "path0", "q0", "hp2", "host", "cpath", "cq", "canon_url", "domain")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(
      clash.isEmpty,
      s"canonicalizeUrls: input columns ${clash.toSeq.sorted.mkString(", ")} collide with reserved " +
        s"intermediate/output names (${reserved.mkString(", ")}); rename them before calling"
    )
    df
      .withColumn("nofrag", expr(nofragSql))
      .withColumn("scheme", expr(schemeSql))
      .withColumn("hp", expr(hpSql))
      .withColumn("path0", expr(path0Sql))
      .withColumn("q0", regexp_extract(col("nofrag"), patQuery, 1))
      .withColumn("hp2", expr(hp2Sql))
      .withColumn("host", expr(hostSql))
      .withColumn("cpath", expr(cpathSql))
      .withColumn(
        "cq",
        expr(s"array_join(array_sort(filter(split(q0, '&'), $paramFilterSql)), '&')")
      )
      .withColumn("canon_url", expr(canonUrlSql))
      .withColumn("domain", regexp_extract(expr(hostNpSql), patDomain, 1))
      .drop("nofrag", "scheme", "hp", "path0", "q0", "hp2", "host", "cpath", "cq")
  }

  /** (doc_id, url, canon_url, domain) for every document — q163/q164's
    * input: the deterministic generator + the reusable canonicalizer.
    */
  private def urlParts(docs: DataFrame): DataFrame =
    canonicalizeUrls(docs.withColumn("url", expr(urlGenSql)))

  /** The same pipeline as DuckDB CTEs ending in
    * canon(doc_id, url, canon_url, domain).
    */
  private[queries] val urlCanonSqlCtes: String =
    s"""WITH u AS (SELECT doc_id, $urlGenSql AS url FROM documents),
        p0 AS (SELECT doc_id, url, $nofragSql AS nofrag FROM u),
        p1 AS (SELECT *, $schemeSql AS scheme, $hpSql AS hp, $path0Sql AS path0,
            regexp_extract(nofrag, '$patQuery', 1) AS q0 FROM p0),
        p2 AS (SELECT *, $hp2Sql AS hp2 FROM p1),
        p3 AS (SELECT *, $hostSql AS host, $cpathSql AS cpath,
            array_to_string(list_sort(list_filter(string_split(q0, '&'), $paramFilterSql)), '&') AS cq
          FROM p2),
        canon AS (SELECT doc_id, url, $canonUrlSql AS canon_url,
            regexp_extract($hostNpSql, '$patDomain', 1) AS domain FROM p3)"""

  val entries: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- q64
    // Benchmark decontamination: training docs sharing a word-5-gram with
    // the held-out benchmark set (here: source 'src0') are flagged with
    // their distinct-overlap count. The benchmark side is broadcast —
    // at 100 TB the corpus never shuffles; contamination detection rides
    // the scan as a broadcast semi-join (the standard 13-gram
    // decontamination shape, n lowered to 5 for the synthetic corpus).
    QueryDef(
      "q64_decontaminate",
      (s, dir) => {
        val docs = Engine.table(s, dir, "documents")
        // Each side shingles only ITS documents, so the corpus-sized
        // train side streams through the broadcast semi-join with no
        // materialization anywhere — a train-side checkpoint (as this
        // query once had) would be a corpus-sized write at 100 TB. The
        // benchmark side is small by construction (a held-out eval set)
        // and is consumed exactly once, by the broadcast build.
        val bench = shingleRows5(docs.filter(col("source") === "src0"))
          .select(col("sg"))
          .distinct()
        val train = shingleRows5(docs.filter(col("source") =!= "src0"))
          .select(col("doc_id"), col("sg"))
        train
          .join(broadcast(bench), "sg")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("sg")).as("n_hits"))
          .orderBy(col("doc_id"))
      },
      Some(decontamOracleSql)
    ),
    // ---------------------------------------------------------------- q69
    // Temperature-style source re-sampling: keep ceil(sqrt(n)) docs per
    // source (alpha=0.5 flattening — large sources are downsampled hard,
    // small ones kept whole-ish), selecting deterministically by a keyed
    // hash so the sample is stable across runs and engines. One window
    // over the source partitioning — a single shuffle at any scale.
    QueryDef(
      "q69_temperature_sample",
      (s, dir) => {
        val w = Window
          .partitionBy(col("source"))
          .orderBy(md5(concat(lit("smpl|"), col("doc_id").cast("string"))), col("doc_id"))
        Engine
          .table(s, dir, "documents")
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("ns", count(lit(1)).over(Window.partitionBy(col("source"))))
          .filter(col("rn") <= ceil(sqrt(col("ns").cast("double"))))
          .select(col("doc_id"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH r AS (
               SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5('smpl|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                 count(*) OVER (PARTITION BY source) AS ns
               FROM documents)
             SELECT doc_id, source FROM r
             WHERE rn <= CAST(ceil(sqrt(ns)) AS BIGINT) ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q73
    // PII redaction: emails and phone numbers replaced with typed tags,
    // with per-doc match counts. The corpus has no organic PII, so each
    // doc is suffixed with a synthetic contact line derived from its id —
    // the redaction itself (regex scan + replace over the full text) is
    // real and verified by hashing the redacted output. Pure narrow map:
    // codegen'd regexp over the scan, no shuffle at any scale.
    QueryDef(
      "q73_pii_scrub",
      (s, dir) => {
        val pii = concat(
          col("text"),
          lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")
        )
        Engine
          .table(s, dir, "documents")
          .withColumn("pii", pii)
          .select(
            col("doc_id"),
            regexp_count(col("pii"), lit(emailRe)).cast("long").as("n_emails"),
            regexp_count(col("pii"), lit(phoneRe)).cast("long").as("n_phones"),
            md5(
              regexp_replace(
                regexp_replace(col("pii"), emailRe, "<EMAIL>"),
                phoneRe,
                "<PHONE>"
              )
            ).as("redacted_md5")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH p AS (
               SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii
               FROM documents)
             SELECT doc_id,
               CAST(len(regexp_extract_all(pii, '$emailRe')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(pii, '$phoneRe')) AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(pii, '$emailRe', '<EMAIL>', 'g'),
                 '$phoneRe', '<PHONE>', 'g')) AS redacted_md5
             FROM p ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q84
    // Sliding-window chunking for tokenization: 32-token chunks with
    // stride 24 (8-token overlap), the map from documents to training
    // sequences. Narrow flatMap — rows multiply ~n/24x but nothing
    // shuffles; at 100 TB this is the classic pre-tokenization explode
    // and its cost is pure scan + write.
    QueryDef(
      "q84_chunk",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .filter(size(col("toks")) >= 1)
          .select(
            col("doc_id"),
            posexplode(expr(
              "transform(sequence(0, cast((size(toks) - 1) div 24 as int)), " +
                "i -> slice(toks, i * 24 + 1, 32))"
            ))
          )
          .select(
            col("doc_id"),
            col("pos").cast("long").as("chunk_id"),
            size(col("col")).cast("long").as("n_tokens"),
            md5(concat_ws(" ", col("col"))).as("chunk_md5")
          )
          .orderBy(col("doc_id"), col("chunk_id")),
      Some(s"""WITH $toksCte,
             c AS (
               SELECT doc_id, unnest(generate_series(0, (len(toks) - 1) // 24)) AS i, toks
               FROM t WHERE len(toks) >= 1)
             SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
               CAST(len(toks[i*24+1 : i*24+32]) AS BIGINT) AS n_tokens,
               md5(array_to_string(toks[i*24+1 : i*24+32], ' ')) AS chunk_md5
             FROM c ORDER BY doc_id, chunk_id""")
    ),
    // ---------------------------------------------------------------- q89
    // Token-budget selection: rank docs by lexical richness (distinct
    // token count) and keep the prefix whose cumulative token count fits
    // a 10k budget. The running sum is an EXACT distributed prefix sum:
    // range-repartition on the rank key, per-partition cumsum (window
    // keyed on spark_partition_id, so it never globalizes), then each
    // partition adds the summed total of the partitions before it — the
    // offset table is one row per partition, broadcast back. A naive
    // Window.orderBy(...) with no partitioning would pull 100 TB through
    // one task; this shape never does.
    QueryDef(
      "q89_token_budget",
      (s, dir) => {
        val st = Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .select(
            col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("nd")
          )
        graft.operators.Ranks
          .distributedPrefixSum(
            st, Seq(col("nd").desc, col("doc_id")), col("n_tokens"), inclusive = true)
          .withColumn("cum_tokens", col("psum"))
          .filter(col("cum_tokens") <= 10000L)
          .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksCte,
             st AS (SELECT doc_id, len(toks) AS nt, len(list_distinct(toks)) AS nd FROM t),
             c AS (
               SELECT doc_id, nt,
                 sum(nt) OVER (ORDER BY nd DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM st)
             SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, CAST(cum AS BIGINT) AS cum_tokens
             FROM c WHERE cum <= 10000 ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q108
    // Domain-mixture reweighting: given a target mixture (uniform across
    // sources here), compute each source's token share and the sampling
    // rate that hits the target: rate = min(1, target_tokens / actual).
    // The bookkeeping step of DoReMi-style mixture tuning. Two tiny
    // aggregations — per-source totals and a grand total joined back by
    // broadcast (a cross join of one row); nothing scales with corpus
    // size except the first scan.
    QueryDef(
      "q108_mixture_weights",
      (s, dir) => {
        val perSource = Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).cast("long").as("n_tokens"))
        val totals = perSource.agg(
          sum(col("n_tokens")).as("total_tokens"),
          count(lit(1)).as("n_sources")
        )
        perSource
          .crossJoin(broadcast(totals))
          .select(
            col("source"),
            col("n_docs"),
            col("n_tokens"),
            round(col("n_tokens").cast("double") / col("total_tokens"), 6).as("share"),
            round(
              least(
                lit(1.0),
                col("total_tokens").cast("double") / (col("n_sources") * col("n_tokens"))
              ),
              6
            ).as("sample_rate")
          )
          .orderBy(col("source"))
      },
      Some(s"""WITH ps AS (
               SELECT source, count(*) AS n_docs,
                 CAST(sum(len(${Tokenize.toksSql})) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
             t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                     count(*) AS n_sources FROM ps)
             SELECT source, n_docs, n_tokens,
               round(CAST(n_tokens AS DOUBLE) / total_tokens, 6) AS share,
               round(least(1.0, CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens)), 6)
                 AS sample_rate
             FROM ps CROSS JOIN t ORDER BY source""")
    ),
    // --------------------------------------------------------------- q110
    // Unicode NFC canonicalization — decomposed accents ("e" + combining
    // acute) hash differently from their composed forms ("é"), silently
    // defeating exact dedup on multilingual corpora. The synthetic
    // corpus is pure ASCII, so each doc is suffixed with decomposed
    // sequences; normalization runs through the native codegen'd
    // graft_nfc expression (functions.NfcNormalize — a UDF would break
    // whole-stage codegen) and is verified by codepoint counts + the md5
    // of the composed output against DuckDB's nfc_normalize. Pure narrow
    // map: rides the scan, no shuffle at any scale.
    QueryDef(
      "q110_nfc_normalize",
      (s, dir) => {
        // "cafe" + U+0301 and "nai" + U+0308 + "ve": NFC composes to é/ï
        val raw = concat(col("text"), lit(" cafe\u0301 nai\u0308ve"))
        Engine
          .table(s, dir, "documents")
          .select(
            col("doc_id"),
            length(raw).cast("long").as("len_raw"),
            length(_root_.graft.functions.StringFns.nfc(raw)).cast("long").as("len_nfc"),
            md5(_root_.graft.functions.StringFns.nfc(raw)).as("nfc_md5")
          )
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (
               SELECT doc_id,
                 text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS raw
               FROM documents)
             SELECT doc_id,
               CAST(length(raw) AS BIGINT) AS len_raw,
               CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
               md5(nfc_normalize(raw)) AS nfc_md5
             FROM p ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q125
    // Training-shard manifest — the export-planning step of a curation
    // pipeline: every document is assigned a deterministic shard
    // (Layout.shardOf: md5-nibble arithmetic, engine-portable so a
    // loader can recompute assignments independently), and the manifest
    // reports per-(lang, shard) document/token/char volumes — what a
    // trainer reads to balance data-parallel workers. One narrow map +
    // one hash-agg shuffle at any scale; the physical shard write is
    // Layout.writeShards (LayoutSpec pins count preservation and
    // manifest agreement).
    QueryDef(
      "q125_shard_manifest",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(
            col("lang"),
            graft.operators.Layout.shardOf(col("doc_id"), 16).as("shard"),
            size(Tokenize.toksExpr).cast("long").as("ntok"),
            col("n_chars")
          )
          .groupBy(col("lang"), col("shard"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars")
          )
          .orderBy(col("lang"), col("shard")),
      Some(s"""WITH t AS (
               SELECT lang, n_chars,
                 ${Tokenize.toksSql} AS toks,
                 md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
             sh AS (
               SELECT lang, n_chars, len(toks) AS ntok,
                 ${graft.operators.Layout.shardOfSql("h", 16)} AS shard
               FROM t)
             SELECT lang, shard, count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
             FROM sh GROUP BY lang, shard ORDER BY lang, shard""")
    ),
    // --------------------------------------------------------------- q129
    // Sequence packing — the sample-packing step of LLM training prep:
    // documents are concatenated in deterministic export order (doc_id)
    // and split into fixed 2048-token training sequences, docs crossing
    // pack boundaries (the GPT-style packing that wastes no tokens on
    // padding). Each doc's (pack_id, pack_offset) comes from an EXACT
    // DISTRIBUTED prefix sum — the q89 machinery: range repartition on
    // the order key, per-partition local cumsum, a ~32-row offset table
    // broadcast back. Never a global single-partition window; scales to
    // any corpus the range partitioner can split.
    QueryDef(
      "q129_sequence_pack",
      (s, dir) => {
        val packLen = 2048L
        val st = Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
        // start offset = tokens BEFORE this doc (exclusive prefix sum)
        graft.operators.Ranks
          .distributedPrefixSum(st, Seq(col("doc_id")), col("n_tokens"), inclusive = false)
          .withColumn("start", col("psum"))
          .select(
            col("doc_id"),
            col("n_tokens"),
            expr(s"start div $packLen").as("pack_id"),
            (col("start") % packLen).as("pack_offset")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksCte,
             st AS (SELECT doc_id, len(toks) AS nt FROM t),
             $packSql""")
    ),
    // --------------------------------------------------------------- q130
    // Deterministic train/val/test split manifest: every doc lands in a
    // split by engine-portable md5-nibble arithmetic (Layout.pctBucket:
    // FOUR nibbles -> [0,65536) mod 100; buckets 0-89 train, 90-94 val,
    // 95-99 test), so any engine — and any future re-run — assigns
    // identically with no stored split column. Four nibbles matter: a
    // two-nibble [0,256) mod 100 draw gives buckets 0-55 probability
    // 3/256 vs 2/256 (~92.2/3.9/3.9 actual for a documented 90/5/5);
    // pctBucket bounds the bias at ~0.15% relative so the split
    // fractions hold as stated. The manifest is the 3-row audit a
    // training run records: per-split doc and token volumes. One narrow
    // map + one tiny aggregation.
    QueryDef(
      "q130_split_manifest",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(
            graft.operators.Layout.pctBucket(col("doc_id")).as("bucket"),
            size(toksExpr).cast("long").as("ntok")
          )
          .withColumn(
            "split",
            when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test")
          )
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
          .orderBy(col("split")),
      Some(s"""WITH t AS (
               SELECT ${Tokenize.toksSql} AS toks,
                 md5(CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
             b AS (
               SELECT len(toks) AS ntok,
                 ${graft.operators.Layout.pctBucketSql("h")} AS bucket
               FROM t),
             sp AS (
               SELECT CASE WHEN bucket < 90 THEN 'train'
                           WHEN bucket < 95 THEN 'val'
                           ELSE 'test' END AS split, ntok
               FROM b)
             SELECT split, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
             FROM sp GROUP BY split ORDER BY split""")
    ),
    // --------------------------------------------------------------- q131
    // Mixture APPLICATION — the execution half of q108: each source's
    // q108 sampling rate is applied as a DETERMINISTIC per-doc keep
    // decision (doc kept iff its md5-nibble bucket in [0,256) falls
    // under floor(rate*256)), so the sampled corpus is reproducible by
    // any engine from the data alone — no RNG state, no stored sample
    // column, stable under re-runs and backfills. Narrow map + broadcast
    // of the tiny per-source rate table; nothing shuffles but the
    // source aggregation that computes the rates.
    QueryDef(
      "q131_mixture_apply",
      (s, dir) => {
        val docs = Engine.table(s, dir, "documents")
        val perSource = docs
          .withColumn("toks", toksExpr)
          .groupBy(col("source"))
          .agg(sum(size(col("toks"))).cast("long").as("n_tokens"))
        val totals = perSource.agg(
          sum(col("n_tokens")).as("total_tokens"),
          count(lit(1)).as("n_sources")
        )
        val rates = perSource
          .crossJoin(broadcast(totals))
          .select(
            col("source"),
            round(
              least(
                lit(1.0),
                col("total_tokens").cast("double") / (col("n_sources") * col("n_tokens"))
              ),
              6
            ).as("rate")
          )
        docs
          .join(broadcast(rates), "source")
          .filter(
            graft.operators.Layout.shardOf(col("doc_id"), 256) < floor(col("rate") * 256)
          )
          .select(col("doc_id"), col("source"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ps AS (
               SELECT source,
                 CAST(sum(len(${Tokenize.toksSql})) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
             t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                          count(*) AS n_sources FROM ps),
             r AS (SELECT source,
                 round(least(1.0, CAST(total_tokens AS DOUBLE) / (n_sources * n_tokens)), 6)
                   AS rate
               FROM ps CROSS JOIN t),
             d AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
             SELECT d.doc_id, d.source FROM d JOIN r USING (source)
             WHERE ((CASE WHEN ascii(substr(h, 1, 1)) <= 57 THEN ascii(substr(h, 1, 1)) - 48
                          ELSE ascii(substr(h, 1, 1)) - 87 END) * 16
                  + (CASE WHEN ascii(substr(h, 2, 1)) <= 57 THEN ascii(substr(h, 2, 1)) - 48
                          ELSE ascii(substr(h, 2, 1)) - 87 END)) < floor(rate * 256)
             ORDER BY d.doc_id""")
    ),
    // --------------------------------------------------------------- q140
    // Length-bucket packing audit: docs bucketed by power-of-two token
    // length (bucket = floor(log2 nt), computed as length(bin(nt)) - 1 —
    // pure integer arithmetic, no float log whose boundary rounding
    // could disagree at exact powers of two), and per bucket the padding
    // waste a naive pad-to-512 batching would pay: padded = ceil(nt/512)
    // * 512 summed, waste_ppm = (padded - real) ppm. The measurement
    // that motivates length-grouped batching / sequence packing (q129
    // is the cure; this is the diagnosis). One narrow map + one tiny
    // hash-agg — nothing scales past the scan.
    QueryDef(
      "q140_length_buckets",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(size(toksExpr).cast("long").as("nt"))
          .filter(col("nt") >= 1)
          .withColumn("bucket", expr("length(bin(nt)) - 1").cast("long"))
          .withColumn("padded", expr("((nt + 511) div 512) * 512"))
          .groupBy(col("bucket"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nt")).as("n_tokens"),
            sum(col("padded")).as("n_padded"),
            expr("sum(padded - nt) * 1000000 div sum(padded)").as("waste_ppm")
          )
          .orderBy(col("bucket")),
      Some(s"""WITH t AS (
               SELECT len(${Tokenize.toksSql}) AS nt
               FROM documents),
             b AS (
               SELECT nt, CAST(length(bin(nt)) - 1 AS BIGINT) AS bucket,
                 ((nt + 511) // 512) * 512 AS padded
               FROM t WHERE nt >= 1)
             SELECT bucket, count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               CAST(sum(padded) AS BIGINT) AS n_padded,
               CAST(sum(padded - nt) * 1000000 // sum(padded) AS BIGINT) AS waste_ppm
             FROM b GROUP BY bucket ORDER BY bucket""")
    ),
    // --------------------------------------------------------------- q141
    // Deterministic global training order: every doc gets a position in
    // a seeded pseudo-random permutation (sort key = md5('s42|'||doc_id),
    // doc_id tiebreak — any engine recomputes the same order from the
    // data alone, no RNG state) plus a round-robin shard assignment from
    // that position. The global position is the q89/q129 EXACT
    // distributed prefix sum: range-repartition on the sort key,
    // per-partition row numbering, and a ~32-row broadcast offset table
    // — never a single-partition global window, so the shuffle manifest
    // of a 100 TB corpus costs one range exchange.
    QueryDef(
      "q141_shuffle_manifest",
      (s, dir) => {
        val keyed = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), md5(concat(lit("s42|"), col("doc_id").cast("string"))).as("h"))
        graft.operators.Ranks
          .distributedRank(keyed, Nil, Seq(col("h"), col("doc_id")))
          .withColumn("pos", col("rnk") - 1L)
          .select(col("doc_id"), col("pos"), (col("pos") % 16).as("shard"))
          .orderBy(col("pos"))
      },
      Some("""WITH k AS (
               SELECT doc_id, md5('s42|' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents)
             SELECT doc_id,
               CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos,
               CAST((row_number() OVER (ORDER BY h, doc_id) - 1) % 16 AS BIGINT) AS shard
             FROM k ORDER BY pos""")
    ),
    // --------------------------------------------------------------- q153
    // Per-stratum QUOTA split: within each (lang, source) stratum the
    // first ceil(5%) of docs in deterministic-hash order become the
    // held-out 'val' set, the rest 'train' — eval-set construction with
    // EXACT per-stratum counts, complementing q130's proportional hash
    // split (which only hits 5% in expectation; a small stratum can
    // end up with zero eval docs there, never here). Hash order, not
    // doc_id order, so the quota isn't biased by ingestion sequence.
    // Scale shape: the q141/q89 distributed-rank pattern, per stratum —
    // NEVER a window partitioned by the bare (lang, source) key, which
    // would hash every row of a stratum to ONE task's sort (at 100 TB
    // the (en, web-crawl) stratum is most of the corpus through one
    // sorter). Instead: range-repartition on (lang, source, hk, doc_id)
    // — partition boundaries respect the stratum-then-hash global order,
    // so a big stratum SPANS many partitions — then a (pid, stratum)-
    // keyed local row_number, and a broadcast offsets table (strata x
    // ~32 partitions rows, aggregated) that also carries each stratum's
    // total n. Stratum rank = local rank + partition offset; the ceil
    // uses (n + 19) div 20 on both engines — non-negative, so truncate
    // (Spark div) and floor (DuckDB //) agree.
    QueryDef(
      "q153_quota_split",
      (s, dir) => {
        val keyed = Engine
          .table(s, dir, "documents")
          .select(
            col("doc_id"),
            col("lang"),
            col("source"),
            md5(col("doc_id").cast("string").cast("binary")).as("hk")
          )
        graft.operators.Ranks
          .distributedRank(keyed, Seq("lang", "source"), Seq(col("hk"), col("doc_id")))
          .withColumn(
            "split",
            when(col("rnk") <= expr("(n + 19) div 20"), lit("val")).otherwise(lit("train"))
          )
          .select(col("doc_id"), col("lang"), col("source"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, source,
               CASE WHEN row_number() OVER (PARTITION BY lang, source
                                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                      <= (count(*) OVER (PARTITION BY lang, source) + 19) // 20
                    THEN 'val' ELSE 'train' END AS split
             FROM documents ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q160
    // DSIR importance weights — the public "Data Selection via
    // Importance Resampling" recipe: score every training document by
    // how target-like its hashed-feature distribution is, weight =
    // sum over token instances of the smoothed log-likelihood ratio
    // ln(p_target(b) / p_raw(b)) over B = 256 md5 hash buckets
    // (add-one smoothing on both sides). The held-out target domain is
    // source = 'src0' (the q64/q155 convention); every other doc gets
    // a weight — the input to importance RESAMPLING (q69's temperature
    // machinery consumes exactly this kind of score). Cross-engine
    // exactness: the log-ratio is rounded to INTEGER MICRO-UNITS on
    // the 256-row bucket table (per-scalar rounding, the q81 tf-idf
    // precedent), so the per-document aggregation is exact int64
    // arithmetic — float summation order can never flip a hash. Scale
    // shape: two hash-aggs to 256-row bucket stats, scalar totals via
    // broadcast cross joins, and ONE broadcast join of the 256-row
    // term table onto the token stream — the corpus never shuffles.
    QueryDef(
      "q160_dsir_weights",
      (s, dir) => dsirWeights(s, dir).orderBy(col("doc_id")),
      Some(s"""$dsirSql
             SELECT doc_id, n_toks, w_micro FROM w ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q161
    // DSIR RESAMPLING manifest — the selection step that consumes
    // q160's weights: Gumbel-top-k importance sampling without
    // replacement, derandomized the engine's way (no RNG state — any
    // engine recomputes the same draw from the data alone): u_d =
    // (parsed first 8 md5 hex of 'g|'||doc_id + 1) / (2^32 + 1) in
    // (0, 1), gumbel_micro = round(-ln(-ln(u)) * 1e6) (per-doc SCALAR
    // rounding, the q160/q81 exactness pattern), key = w_micro +
    // gumbel_micro, and the top ceil(20%) by key are 'sampled'. The
    // global rank over keys is the q141/q153 distributed-rank shape —
    // range-repartition on (key DESC, doc_id), per-partition
    // row_number, broadcast offsets carrying the total — NEVER a
    // single-partition window over the corpus; the oracle's global
    // row_number is the semantic mirror only.
    QueryDef(
      "q161_dsir_sample",
      (s, dir) => {
        val keyed = dsirWeights(s, dir)
          .withColumn(
            "gum",
            expr("""cast(round(-ln(-ln((cast(conv(substr(md5(concat('g|', cast(doc_id as string))), 1, 8), 16, 10) as bigint) + 1.0d)
                   / 4294967297.0d)) * 1000000d) as bigint)""")
          )
          .withColumn("key", col("w_micro") + col("gum"))
        graft.operators.Ranks
          .distributedRank(keyed, Nil, Seq(col("key").desc, col("doc_id")))
          .withColumn("pos", col("rnk"))
          .withColumn(
            "pick",
            when(col("pos") <= expr("(n + 4) div 5"), lit("sampled")).otherwise(lit("rest"))
          )
          .select(col("doc_id"), col("w_micro"), col("key"), col("pos"), col("pick"))
          .orderBy(col("pos"))
      },
      Some(s"""$dsirSql,
             k AS (SELECT doc_id, w_micro,
                 w_micro + CAST(round(-ln(-ln(
                     (CAST(list_sum(list_transform(generate_series(1, 8),
                        j -> (strpos('0123456789abcdef',
                                substr(md5('g|' || CAST(doc_id AS VARCHAR)), j, 1)) - 1)
                             * power(16, 8 - j))) AS BIGINT) + 1.0)
                     / 4294967297.0)) * 1000000) AS BIGINT) AS key
               FROM w)
             SELECT doc_id, w_micro, key,
               CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS pos,
               CASE WHEN row_number() OVER (ORDER BY key DESC, doc_id)
                      <= (count(*) OVER () + 4) // 5
                    THEN 'sampled' ELSE 'rest' END AS pick
             FROM k ORDER BY pos""")
    ),
    // --------------------------------------------------------------- q163
    // URL canonicalization — the CCNet/RefinedWeb curation step that
    // precedes URL dedup and per-domain caps: lowercase scheme+host,
    // strip the scheme's DEFAULT port (a non-default port is identity-
    // relevant and kept — the doc_id%3==2,%5==0 rows exercise that),
    // strip a leading 'www.', drop the fragment, strip trailing path
    // slashes (root stays '/'), drop tracking params (utm_*, fbclid,
    // gclid, ref), sort the surviving params, and derive the registered
    // domain (last two host labels, port excluded). The corpus has no
    // URL column, so a deterministic messy URL is derived per document
    // from (doc_id, lang, source) — the generator and every scalar
    // canonicalization step are ONE shared SQL string interpolated into
    // BOTH engines (the dialect-shared subset: ||, CASE, CAST AS
    // STRING, regexp_extract/replace, substr, LIKE), so the two sides
    // cannot drift; only the list pipeline for query params differs
    // (filter/array_sort/array_join vs list_filter/list_sort/
    // array_to_string). Scale: pure narrow per-row string work riding
    // the scan — no shuffle, no UDF, all codegen'd string expressions.
    QueryDef(
      "q163_url_canonical",
      (s, dir) =>
        urlParts(Engine.table(s, dir, "documents"))
          .select(col("doc_id"), col("url"), col("canon_url"), col("domain"))
          .orderBy(col("doc_id")),
      Some(s"""$urlCanonSqlCtes
             SELECT doc_id, url, canon_url, domain
             FROM canon ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q164
    // Per-domain document cap — the anti-SEO-spam / source-balance rule
    // (RefinedWeb caps documents per registered domain so one crawler
    // trap or content farm cannot dominate the corpus): within each
    // q163 domain, the first `DomainCap` docs in deterministic-hash
    // order are 'kept', the rest 'capped'. Hash order (md5('d|'||id)),
    // not crawl order, so the cap is unbiased by ingestion sequence.
    // Scale shape: the q153 distributed-rank pattern with domain as the
    // stratum — range-repartition on (domain, hk, doc_id) so a huge
    // domain SPANS partitions, (pid, domain)-local row_number, then a
    // broadcast (domain x ~32 partitions) offset table; NEVER a bare
    // per-domain window (at 100 TB one viral domain would otherwise
    // funnel through a single task's sort).
    QueryDef(
      "q164_domain_cap",
      (s, dir) => {
        val keyed = urlParts(Engine.table(s, dir, "documents"))
          .select(
            col("doc_id"),
            col("domain"),
            md5(concat(lit("d|"), col("doc_id").cast("string"))).as("hk")
          )
        graft.operators.Ranks
          .distributedRank(keyed, Seq("domain"), Seq(col("hk"), col("doc_id")))
          .withColumn(
            "verdict",
            when(col("rnk") <= DomainCap, lit("kept")).otherwise(lit("capped"))
          )
          .select(col("doc_id"), col("domain"), col("rnk"), col("verdict"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$urlCanonSqlCtes,
             r AS (SELECT doc_id, domain,
                 CAST(row_number() OVER (PARTITION BY domain
                     ORDER BY md5('d|' || CAST(doc_id AS STRING)), doc_id) AS BIGINT) AS rnk
               FROM canon)
             SELECT doc_id, domain, rnk,
               CASE WHEN rnk <= $DomainCap THEN 'kept' ELSE 'capped' END AS verdict
             FROM r ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q167
    // The END-TO-END curation pipeline as ONE oracle-gated plan — the
    // published recipe order (boilerplate/span scrub -> quality gate ->
    // exact dedup -> fuzzy dedup -> split -> shard manifest), proving
    // the registry's operators COMPOSE rather than merely coexist:
    //   1. cross-document span scrub (q162's core, the SAME shared
    //      dupSpanRows helper — one gram shuffle);
    //   2. quality gate on the CLEANED tokens (corpus-calibrated
    //      subset of q165's battery: length, mean word length,
    //      alphabetic share — thresholds documented inline);
    //   3. exact dedup keep-lowest on the cleaned-text hash (q50
    //      semantics, post-scrub — scrubbing creates new exact dups);
    //   4. fuzzy dedup: 3-gram shingle MinHash (native kernel), 4
    //      bands x 2 rows, GREEDY drop of any doc sharing a bucket
    //      with a lower surviving id — an agg + anti-join, never pair
    //      enumeration (q52 owns the verified-pair verdict; a
    //      pipeline wants the cheap transitive-enough gate);
    //   5. per-(lang, source) 5% quota split — the q153 distributed
    //      rank, range-repartitioned so big strata span partitions;
    //   6. shard manifest — the q141 seeded-hash global position via
    //      range-repartition + broadcast offsets, shard = pos % 16.
    // localCheckpoint barriers sit where a subtree feeds two consumers
    // (exact-dedup survivors feed both the bucket-drop list and the
    // anti-join) so the expensive scrub runs ONCE — the plan-shape spec
    // pins scan and exchange counts. Ordering note (COVERAGE.md): span
    // scrub runs BEFORE quality/dedup per the published pipelines —
    // boilerplate removal changes what the later stages hash.
    QueryDef(
      "q167_pipeline_manifest",
      (s, dir) => {
        // -- 1. span scrub (shared helper; q162's exact kept-token rule)
        val sp = graft.queries.DedupOps
          .dupSpanRows(s, dir)
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(
            col("span_start").as("s"), col("span_end").as("e")))).as("spans"))
        val d = Engine
          .table(s, dir, "documents")
          .repartition(col("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"), toksExpr.as("toks"))
          .filter(size(col("toks")) >= 1)
        val cleaned = d
          .join(sp, Seq("doc_id"), "left")
          .withColumn(
            "kept",
            expr("""case when spans is null then toks
                    else transform(
                      filter(sequence(1, size(toks)),
                             p -> NOT exists(spans, q -> p >= q.s AND p <= q.e)),
                      p -> element_at(toks, p)) end""")
          )
          .select(
            col("doc_id"), col("lang"), col("source"), col("kept"),
            size(col("kept")).cast("long").as("n_kept"),
            md5(concat_ws(" ", col("kept"))).as("clean_md5"),
            expr("aggregate(kept, 0L, (a, x) -> a + length(x))").as("nchars")
          )
        // -- 2. quality gate on cleaned tokens (corpus-calibrated: the
        //       full Gopher battery is q165; a synthetic 10-99-word
        //       corpus needs length >= 20, mean word length 3-10,
        //       alphabetic share >= 80%)
        val quality = cleaned
          .filter(col("n_kept") >= 20L)
          // greatest(n_kept, 1): ANSI div-by-zero guard — Catalyst may
          // evaluate the combined filter conjuncts in any order, so a
          // fully-scrubbed doc (n_kept = 0) must not reach the division
          .filter(expr("(nchars * 1000000) div greatest(n_kept, 1L) BETWEEN 3000000 AND 10000000"))
          .filter(expr(
            "(cast(size(filter(kept, x -> regexp_like(x, '[a-z]'))) as bigint) * 1000000) div greatest(n_kept, 1L) >= 800000"))
        // -- 3. exact dedup keep-lowest on the cleaned hash
        val keepers = quality
          .groupBy(col("clean_md5"))
          .agg(min(col("doc_id")).as("keep_id"))
        val exact = quality
          .join(keepers,
            quality("clean_md5") === keepers("clean_md5") &&
              quality("doc_id") === keepers("keep_id"))
          .select(quality("doc_id"), col("lang"), col("source"), col("kept"), col("n_kept"))
          .localCheckpoint(eager = false) // feeds the drop list AND the anti-join
        // -- 4. fuzzy dedup: minhash banding, greedy min-id per bucket
        val bk = exact
          .filter(size(col("kept")) >= 3)
          .select(
            col("doc_id"),
            graft.functions.TextHashOps
              .minhashSig(array_distinct(graft.functions.TextHashOps.gramsText(col("kept"), 3)), 8)
              .as("sig")
          )
          .select(col("doc_id"),
            explode(graft.functions.TextHashOps.bandBuckets(col("sig"), 4, 2)).as("bucket"))
        val bmin = bk.groupBy(col("bucket")).agg(min(col("doc_id")).as("m"))
        val dropF = bk
          .join(bmin, "bucket")
          .filter(col("m") < col("doc_id"))
          .select(col("doc_id"))
          .distinct()
        val surv = exact.join(dropF, Seq("doc_id"), "left_anti")
        // -- 5. per-(lang, source) quota split — the shared distributed
        //       rank (Ranks.distributedRank), q153's shape
        val keyed = surv.withColumn(
          "hk", md5(col("doc_id").cast("string").cast("binary")))
        val split = graft.operators.Ranks
          .distributedRank(keyed, Seq("lang", "source"), Seq(col("hk"), col("doc_id")))
          .withColumn(
            "split",
            when(col("rnk") <= expr("(n + 19) div 20"), lit("val")).otherwise(lit("train"))
          )
          .select(col("doc_id"), col("lang"), col("source"), col("n_kept"), col("split"))
        // -- 6. shard manifest — q141 seeded-hash global position: the
        //       same rank helper with NO strata
        val mk = split.withColumn(
          "mh", md5(concat(lit("s42|"), col("doc_id").cast("string"))))
        graft.operators.Ranks
          .distributedRank(mk, Nil, Seq(col("mh"), col("doc_id")))
          .withColumn("pos", col("rnk") - 1L)
          .select(
            col("doc_id"), col("lang"), col("source"), col("n_kept"), col("split"),
            col("pos"), (col("pos") % 16).as("shard"))
          .orderBy(col("pos"))
      },
      Some(s"""${graft.queries.DedupOps.dupSpansSql},
             spl AS (SELECT doc_id,
                 list(struct_pack(s := span_start, e := span_end) ORDER BY span_start) AS spans
               FROM sp GROUP BY doc_id),
             cl0 AS (SELECT t.doc_id, d2.lang, d2.source,
                 CASE WHEN spl.spans IS NULL THEN t.toks
                      ELSE list_transform(
                        list_filter(generate_series(1, len(t.toks)),
                          p -> len(list_filter(spl.spans, q -> p >= q.s AND p <= q.e)) = 0),
                        p -> t.toks[p]) END AS kept
               FROM t
               JOIN documents d2 ON t.doc_id = d2.doc_id
               LEFT JOIN spl ON t.doc_id = spl.doc_id
               WHERE len(t.toks) >= 1),
             cl AS (SELECT doc_id, lang, source, kept,
                 CAST(len(kept) AS BIGINT) AS n_kept,
                 md5(coalesce(array_to_string(kept, ' '), '')) AS clean_md5,
                 CAST(list_sum(list_transform(kept, x -> length(x))) AS BIGINT) AS nchars
               FROM cl0),
             q AS (SELECT * FROM cl
               WHERE n_kept >= 20
                 AND nchars * 1000000 // greatest(n_kept, 1) BETWEEN 3000000 AND 10000000
                 AND len(list_filter(kept, x -> regexp_matches(x, '[a-z]')))
                     * 1000000 // greatest(n_kept, 1) >= 800000),
             ex AS (SELECT * FROM q
               QUALIFY row_number() OVER (PARTITION BY clean_md5 ORDER BY doc_id) = 1),
             ${recipeTailSql("kept", "doc_id, lang, source, n_kept")}""")
    ),
    // --------------------------------------------------------------- q173
    // The COMPLETE published-recipe composite — q167 extended with the
    // round-7/8 stages so the full pipeline order is ONE oracle-gated
    // plan (CCNet/RefinedWeb/FineWeb/Dolma ordering):
    //   1. URL canonicalization (q163's reusable canonicalizeUrls —
    //      narrow string work riding the single documents scan);
    //   2. per-domain cap (q164's distributed rank over `domain`:
    //      range-repartition so a viral domain spans partitions,
    //      (pid, domain)-local row_number + broadcast offsets — text
    //      rides the ONE range exchange instead of re-joining, so no
    //      second scan and no checkpoint);
    //   3. PII scrub + density drop on CAP SURVIVORS only (q172's
    //      piiClean — the composed code path, so the oracle gate
    //      covers exactly what a pipeline user calls; cheap metadata
    //      stages run before expensive text stages);
    //   4. rule gate on the SCRUBBED tokens (q167's corpus-calibrated
    //      subset: length >= 20, mean word length 3-10, alpha >= 80%)
    //      plus q169's fixed-weight classifier logit >= 0 — the
    //      rules-then-model order DCLM/FineWeb publish;
    //   5. exact dedup keep-lowest on the clean-token hash;
    //   6. fuzzy dedup: 3-gram MinHash, 4 bands x 2 rows, greedy
    //      min-id bucket drop (agg + anti-join, never pairs);
    //   7. per-(lang, source) 5% quota split (distributed rank);
    //   8. shard manifest (seeded-hash global position, shard = pos%16).
    // ONE parquet scan total (pinned in PlanShapeSpec): every stage
    // before dedup is narrow or rides the cap exchange; only the dedup
    // aggs, the split, and the manifest shuffle — all on keys.
    QueryDef(
      "q173_recipe_manifest",
      (s, dir) => {
        val exact = recipeSurvivors(s, dir)
          .localCheckpoint(eager = false) // feeds the drop list AND the anti-join
        // -- 6. fuzzy dedup (q167's banding)
        val bk = exact
          .filter(size(col("toks")) >= 3)
          .select(
            col("doc_id"),
            graft.functions.TextHashOps
              .minhashSig(array_distinct(graft.functions.TextHashOps.gramsText(col("toks"), 3)), 8)
              .as("sig"))
          .select(col("doc_id"),
            explode(graft.functions.TextHashOps.bandBuckets(col("sig"), 4, 2)).as("bucket"))
        val bmin = bk.groupBy(col("bucket")).agg(min(col("doc_id")).as("m"))
        val dropF = bk
          .join(bmin, "bucket")
          .filter(col("m") < col("doc_id"))
          .select(col("doc_id"))
          .distinct()
        val surv = exact.join(dropF, Seq("doc_id"), "left_anti")
        // -- 7. per-(lang, source) quota split — the shared distributed
        //       rank (Ranks.distributedRank), q153's shape
        val keyed = surv.withColumn(
          "shk", md5(col("doc_id").cast("string").cast("binary")))
        val split = graft.operators.Ranks
          .distributedRank(keyed, Seq("lang", "source"), Seq(col("shk"), col("doc_id")))
          .withColumn(
            "split",
            when(col("rnk") <= expr("(n + 19) div 20"), lit("val")).otherwise(lit("train")))
          .select(
            col("doc_id"), col("lang"), col("source"), col("domain"),
            col("n_words"), col("pii_ppm"), col("logit_micro"), col("split"))
        // -- 8. shard manifest — q141 seeded-hash global position: the
        //       same rank helper with NO strata (global order)
        val mk = split.withColumn(
          "mh", md5(concat(lit("s42|"), col("doc_id").cast("string"))))
        graft.operators.Ranks
          .distributedRank(mk, Nil, Seq(col("mh"), col("doc_id")))
          .withColumn("pos", col("rnk") - 1L)
          .select(
            col("doc_id"), col("lang"), col("source"), col("domain"), col("n_words"),
            col("pii_ppm"), col("logit_micro"), col("split"),
            col("pos"), (col("pos") % 16).as("shard"))
          .orderBy(col("pos"))
      },
      Some(s"""$urlCanonSqlCtes,
             r AS (SELECT doc_id, domain,
                 CAST(row_number() OVER (PARTITION BY domain
                     ORDER BY md5('d|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk
               FROM canon),
             capk AS (SELECT doc_id AS cap_id, domain FROM r WHERE rnk <= ${DomainCap}),
             a AS (SELECT d.doc_id, d.lang, d.source, capk.domain, ${PiiOps.piiGenSql} AS aug
               FROM documents d JOIN capk ON d.doc_id = capk.cap_id),
             p AS (SELECT doc_id, lang, source, domain,
                 ${PiiOps.cleanTextSql} AS clean_text, ${PiiOps.piiPpmSql} AS pii_ppm FROM a),
             tk AS (SELECT doc_id, lang, source, domain, pii_ppm,
                 ${Tokenize.toksSqlOf("clean_text")} AS toks
               FROM p WHERE pii_ppm < ${PiiOps.PpmDropThreshold}),
             blq AS (SELECT * FROM tk
               WHERE len(list_filter(toks, x -> list_contains([$BlocklistSql], x))) = 0),
             ft AS (SELECT *, CAST(len(toks) AS BIGINT) AS n_words,
                 $qualityFeatures
               FROM blq WHERE len(toks) >= 1),
             q AS (SELECT *, CAST(${TextOps.qualityLogitSql} AS BIGINT) AS logit_micro FROM ft
               WHERE n_words >= 20
                 AND mean_wlen_micro BETWEEN 3000000 AND 10000000
                 AND alpha_ppm >= 800000
                 AND ${TextOps.qualityLogitSql} >= 0),
             ex AS (SELECT * FROM q
               QUALIFY row_number() OVER (PARTITION BY md5(array_to_string(toks, ' '))
                 ORDER BY doc_id) = 1),
             ${recipeTailSql("toks", "doc_id, lang, source, domain, n_words, pii_ppm, logit_micro")}""")
    ),
    // --------------------------------------------------------------- q178
    // Bloom-prefiltered decontamination — q64's semantics through the
    // join-pruning physical plan a 100 TB corpus needs when the
    // benchmark side outgrows the broadcast threshold (a full eval
    // suite at 13-grams is GBs of distinct shingles; Dolma's dedup ran
    // exactly this shape with a persisted bloom). Build a bloom filter
    // over the benchmark shingle hashes in one pass (`stat.bloomFilter`
    // — mergeable partial sketches, never a driver-side key list), then
    // drop corpus shingles AT THE SCAN with the codegen'd
    // graft_bloom_contains probe BEFORE they pay the shuffle of the
    // exact join. No false negatives, so prefilter + exact join is
    // value-identical to q64 — the two queries share ONE oracle string
    // (decontamOracleSql) and BloomDecontamSpec pins result equality
    // plus pruning effectiveness. The exact join here is deliberately a
    // shuffle hash join (no broadcast hint): the bloom carries the
    // small side's selectivity to the scan instead, at O(bits) memory —
    // the fallback that still works when the build side is too big to
    // broadcast but its FILTER still fits (1.2 GB per 10^9 keys at 1%
    // fpp).
    QueryDef(
      "q178_bloom_decontam",
      (s, dir) => {
        val docs = Engine.table(s, dir, "documents")
        // consumed twice (size + filter build, then the exact join) —
        // persisted so the shingling runs once; Engine.releaseScratch
        // drops it once the result is consumed
        val benchSh = shingleRows5(docs.filter(col("source") === "src0"))
          .select(col("sg"))
          .distinct()
          .persist()
        val nKeys = benchSh.count().max(1L)
        val bloom = benchSh
          .select(xxhash64(col("sg")).as("h"))
          .stat
          .bloomFilter("h", nKeys, 0.01)
        val bytes = graft.functions.BloomOps.serialize(bloom)
        shingleRows5(docs.filter(col("source") =!= "src0"))
          .select(col("doc_id"), col("sg"))
          .filter(graft.functions.BloomOps.mightContain(bytes, xxhash64(col("sg"))))
          .join(benchSh.hint("shuffle_hash"), "sg")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("sg")).as("n_hits"))
          .orderBy(col("doc_id"))
      },
      Some(decontamOracleSql)
    ),
    // --------------------------------------------------------------- q179
    // Blocklist (badwords) filtering — the C4 rule every public corpus
    // recipe applies (C4 drops any page containing a term from the
    // public "dirty/naughty/obscene" wordlist; RefinedWeb and Dolma
    // keep URL- and word-level blocklists too): per doc, the total
    // blocklisted-token occurrences, the distinct terms present, and
    // the any-hit keep/drop verdict, token-exact on the engine-wide
    // tokenizer (substring hits like 'dup' inside 'dedup' do NOT
    // count — that's C4's word-boundary semantics). The three-term
    // list is a documented STAND-IN chosen against the synthetic
    // vocabulary ('dup' is rare-but-present, the others absent, so
    // both verdicts and the zero-hit path are exercised); a real
    // ~400-term list is still a literal IN — codegen compiles it to a
    // static hash set — and a list too big for that flips to q64's
    // broadcast-semi-join shape with no other change. Scale: pure
    // narrow per-row work riding the scan; no shuffle, no UDF.
    QueryDef(
      "q179_blocklist",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), toksExpr.as("toks"))
          .select(
            col("doc_id"),
            expr(s"cast(size(filter(toks, x -> x IN ($BlocklistSql))) as bigint)").as("hits"),
            // array_intersect is already set-semantics (dedups), so no
            // array_distinct pre-pass on the per-row hot path
            expr(s"cast(size(array_intersect(toks, array($BlocklistSql))) as bigint)")
              .as("terms")
          )
          .withColumn("verdict", when(col("hits") >= 1L, lit("drop")).otherwise(lit("keep")))
          .orderBy(col("doc_id")),
      Some(s"""WITH $toksCte
             SELECT doc_id,
               CAST(len(list_filter(toks, x -> list_contains([$BlocklistSql], x))) AS BIGINT) AS hits,
               CAST(len(list_intersect(toks, [$BlocklistSql])) AS BIGINT) AS terms,
               CASE WHEN len(list_filter(toks, x -> list_contains([$BlocklistSql], x))) >= 1
                    THEN 'drop' ELSE 'keep' END AS verdict
             FROM t ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q180
    // Language-balanced mixture selection — the multilingual-corpus
    // stage that CONSUMES a classifier verdict (q175's char-n-gram
    // langid) instead of trusting a metadata column: per doc, predict
    // the language from the text alone, then temperature-flatten the
    // PREDICTED-language distribution (alpha=0.5: quota_L =
    // ceil(sqrt(n_L)), q69's rule keyed on the classifier output) and
    // select deterministically by keyed hash. Composition is the
    // point: label column -> classifier -> selection is the published
    // multilingual recipe order (CCNet/mC4 bucket by fastText verdict,
    // never by source metadata). Scale shape: pred_lang has ~5 values,
    // so a bare per-language window would funnel the corpus through 5
    // tasks — this uses the q164/q153 distributed rank (range exchange
    // on (pred_lang, hash), partition-local row_number, broadcast
    // offsets-and-totals table), the shape that survives 100 TB.
    QueryDef(
      "q180_lang_mixture",
      (s, dir) => {
        val scored = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), expr(TextOps.langAugSql).as("aug"))
          .select(
            col("doc_id") +:
              TextOps.langProfiles.map { case (l, _, grams) =>
                expr(TextOps.langScoreSql(grams)).as(s"s_$l")
              }: _*)
          .select(col("doc_id"), expr(TextOps.langPredSql).as("pred_lang"))
          .withColumn("hk", md5(concat(lit("lm|"), col("doc_id").cast("string"))))
        graft.operators.Ranks
          .distributedRank(scored, Seq("pred_lang"), Seq(col("hk"), col("doc_id")))
          .withColumn(
            "verdict",
            when(col("rnk") <= ceil(sqrt(col("n").cast("double"))), lit("sampled"))
              .otherwise(lit("rest")))
          .select(col("doc_id"), col("pred_lang"), col("rnk"), col("verdict"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH a AS (SELECT doc_id, ${TextOps.langAugSql} AS aug FROM documents),
             sc AS (SELECT doc_id, ${TextOps.langProfiles
        .map { case (l, _, g) => s"(${TextOps.langScoreSql(g)}) AS s_$l" }
        .mkString(", ")} FROM a),
             pr AS (SELECT doc_id, ${TextOps.langPredSql} AS pred_lang FROM sc),
             r AS (SELECT doc_id, pred_lang,
                 CAST(row_number() OVER (PARTITION BY pred_lang
                     ORDER BY md5('lm|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rnk,
                 count(*) OVER (PARTITION BY pred_lang) AS n
               FROM pr)
             SELECT doc_id, pred_lang, rnk,
               CASE WHEN rnk <= ceil(sqrt(CAST(n AS DOUBLE))) THEN 'sampled' ELSE 'rest' END AS verdict
             FROM r ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q182
    // Top-fraction-by-score selection — the FineWeb-Edu rule (keep the
    // documents a quality classifier ranks highest, per source, rather
    // than thresholding at a fixed score): rank each source by q169's
    // logit DESC (doc_id tiebreak) and keep the top ceil(n/10), an
    // exact integer quota. This is SCORE-ordered selection, distinct
    // from the hash-ordered quotas (q69/q153/q164/q180) — the ordering
    // column is a computed ranking, which is why the distributed rank
    // ranges on (source, -logit, doc_id): a score-sorted global window
    // per source would funnel each source through one task at 100 TB.
    // The negated-logit range key gives ascending range order =
    // descending score order with no sort-direction special case.
    QueryDef(
      "q182_quality_topfrac",
      (s, dir) => {
        val scored = TextOps
          .qualityScore(Engine.table(s, dir, "documents"), Seq("source"))
          .select(col("doc_id"), col("source"), col("logit_micro"))
          .withColumn("negl", -col("logit_micro"))
        graft.operators.Ranks
          .distributedRank(scored, Seq("source"), Seq(col("negl"), col("doc_id")))
          .withColumn(
            "verdict",
            when(col("rnk") <= expr("(n + 9) div 10"), lit("kept")).otherwise(lit("rest")))
          .select(col("doc_id"), col("source"), col("logit_micro"), col("rnk"), col("verdict"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source, ${Tokenize.toksSql} AS toks FROM documents),
             f AS (SELECT doc_id, source,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 $qualityFeatures
               FROM t WHERE len(toks) >= 1),
             sc AS (SELECT doc_id, source,
                 CAST(${TextOps.qualityLogitSql} AS BIGINT) AS logit_micro FROM f),
             r AS (SELECT doc_id, source, logit_micro,
                 CAST(row_number() OVER (PARTITION BY source
                     ORDER BY logit_micro DESC, doc_id) AS BIGINT) AS rnk,
                 count(*) OVER (PARTITION BY source) AS n
               FROM sc)
             SELECT doc_id, source, logit_micro, rnk,
               CASE WHEN rnk <= (n + 9) // 10 THEN 'kept' ELSE 'rest' END AS verdict
             FROM r ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q185
    // The corpus DATACARD — the "Datasheets for Datasets" summary every
    // released corpus publishes (C4/Dolma/FineWeb ship exactly this
    // table): per (lang, source) cell, document/token/char totals, the
    // cell's share of the corpus in exact ppm, and the headline dedup
    // statistics — exact-text duplicates (docs sharing md5(text) with
    // any other doc; honestly ZERO on this synthetic corpus, reported
    // anyway because a real datacard must carry the column) and
    // NEAR-duplicates (docs sharing a MinHash band bucket — q52/q176's
    // banding — with any other doc, the statistic public datacards
    // actually lead with). Scale shape: narrow per-doc stats ride the
    // scan; both duplicate flags are hash-keyed count aggregates
    // semi-joined back (never a window over data rows); the rollup is
    // a ~100-cell hash aggregate. The whole datacard of a 100 TB
    // corpus is three shuffles of (key, count) pairs and one tiny agg.
    QueryDef(
      "q185_datacard",
      (s, dir) => {
        val st0 = Engine
          .table(s, dir, "documents")
          .repartition(col("doc_id"))
          .select(
            col("doc_id"), col("lang"), col("source"),
            toksExpr.as("toks"),
            length(col("text")).cast("long").as("nc"),
            md5(col("text")).as("h"))
          .localCheckpoint(eager = false) // feeds stats + both dup flags
        // the join path carries ONLY narrow (ids, counts, hash) columns
        // — the token array stays out of both wide shuffles (at 100 TB
        // shuffling tokenized bodies twice would dwarf the report)
        val st = st0.select(
          col("doc_id"), col("lang"), col("source"),
          size(col("toks")).cast("long").as("nt"), col("nc"), col("h"))
        // duplicate hashes only (near-empty on deduped corpora) — the
        // "semi-joined back" flag, not a row per distinct document hash
        val hcMulti = st
          .groupBy(col("h"))
          .agg(count(lit(1)).as("hn"))
          .filter(col("hn") > 1L)
          .select(col("h"), lit(1L).as("isdup1"))
        val bk = st0
          .filter(size(col("toks")) >= 3)
          .select(
            col("doc_id"),
            graft.functions.TextHashOps
              .minhashSig(array_distinct(graft.functions.TextHashOps.gramsText(col("toks"), 3)), 8)
              .as("sig"))
          .select(col("doc_id"),
            explode(graft.functions.TextHashOps.bandBuckets(col("sig"), 4, 2)).as("bucket"))
        val bmult = bk.groupBy(col("bucket")).agg(countDistinct(col("doc_id")).as("bn"))
        val nearIds = bk
          .join(bmult.filter(col("bn") > 1L), "bucket")
          .select(col("doc_id"))
          .distinct()
          .withColumn("isnear", lit(1L))
        st
          .join(hcMulti, Seq("h"), "left")
          .withColumn("isdup", coalesce(col("isdup1"), lit(0L)))
          .join(nearIds, Seq("doc_id"), "left")
          .withColumn("isnear", coalesce(col("isnear"), lit(0L)))
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nt")).as("n_tokens"),
            sum(col("nc")).as("n_chars"),
            sum(col("isdup")).as("exact_dup_docs"),
            sum(col("isnear")).as("near_dup_docs"))
          .withColumn("docs_ppm", expr("(n_docs * 1000000) div sum(n_docs) over ()"))
          .select(
            col("lang"), col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
            col("exact_dup_docs"), col("near_dup_docs"), col("docs_ppm"))
          .orderBy(col("lang"), col("source"))
      },
      Some(s"""WITH st AS (SELECT doc_id, lang, source,
                 ${Tokenize.toksSql} AS toks,
                 CAST(length(text) AS BIGINT) AS nc,
                 md5(text) AS h
               FROM documents),
             hc AS (SELECT h, count(*) AS hn FROM st GROUP BY h),
             ${shingleMinhashCtes("toks", "st")},
             $bandBucketCte,
             bm AS (SELECT bucket FROM bq GROUP BY bucket HAVING count(DISTINCT doc_id) > 1),
             near AS (SELECT DISTINCT doc_id FROM bq JOIN bm USING (bucket)),
             f AS (SELECT st.lang, st.source,
                 CAST(len(st.toks) AS BIGINT) AS nt, st.nc,
                 CASE WHEN hc.hn > 1 THEN 1 ELSE 0 END AS isdup,
                 CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isnear
               FROM st JOIN hc ON st.h = hc.h
               LEFT JOIN near ON st.doc_id = near.doc_id),
             cell AS (SELECT lang, source,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(nt) AS BIGINT) AS n_tokens,
                 CAST(sum(nc) AS BIGINT) AS n_chars,
                 CAST(sum(isdup) AS BIGINT) AS exact_dup_docs,
                 CAST(sum(isnear) AS BIGINT) AS near_dup_docs
               FROM f GROUP BY lang, source)
             SELECT lang, source, n_docs, n_tokens, n_chars,
               exact_dup_docs, near_dup_docs,
               CAST(n_docs * 1000000 // sum(n_docs) OVER () AS BIGINT) AS docs_ppm
             FROM cell ORDER BY lang, source""")
    ),
    // --------------------------------------------------------------- q193
    // Temperature-ANNEALED mixture schedule — the multi-epoch sibling
    // of q108/q69's one-shot flattening: published pre-training runs
    // anneal the source mixture over training (UL2/MiniCPM/Llama-style
    // staged data schedules: start near-natural, end strongly
    // flattened), and this emits the full per-epoch weight table a
    // trainer consumes. Epoch e uses temperature tau_e in
    // {1.0, 0.75, 0.5, 0.25}; weight_s(tau) = n_s^tau / sum_t n_t^tau.
    // Engine-exactness trick: those taus need only sqrt (n^0.5 =
    // sqrt, n^0.25 = sqrt(sqrt), n^0.75 = their product) — sqrt is
    // IEEE-correctly-rounded in BOTH engines, unlike pow/exp whose
    // libm implementations differ — and each n^tau is floored to
    // integer MILLI-units BEFORE the sum, so the normalizing
    // denominator is an exact integer total (no FP accumulation-order
    // noise); the weight is then ONE long/long double division,
    // rounded to 6 decimals (the q108 share convention). Milli (not
    // micro) units keep the exact integer sum within Long out to
    // ~9e15 total tokens (~40 PB of text) — a premultiplied
    // weight_ppm integer form (p * 1e6 div tp) would overflow ANSI
    // Long arithmetic at ~9e6 tokens per source, found in round-9
    // review. One tiny per-source aggregate; the 4 epochs are a
    // literal union over the ~|sources| rows.
    QueryDef(
      "q193_mixture_schedule",
      (s, dir) => {
        val ps = Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .groupBy(col("source"))
          .agg(sum(size(col("toks"))).cast("long").as("n_tokens"))
          .localCheckpoint(eager = false) // 4 epochs re-read the one aggregate
        val epochs = MixtureTaus.zipWithIndex.map { case ((tauMicro, powSql), i) =>
          ps.select(
            lit(i + 1L).as("epoch"),
            lit(tauMicro).as("tau_micro"),
            col("source"),
            col("n_tokens"),
            expr(s"CAST(floor(${powSql("n_tokens")} * 1000 + 0.5) AS BIGINT)").as("p"))
        }
        val all = epochs.reduce(_ unionAll _)
        val totals = all.groupBy(col("epoch")).agg(sum(col("p")).as("tp"))
        all
          .join(broadcast(totals), "epoch")
          .select(
            col("epoch"), col("tau_micro"), col("source"), col("n_tokens"),
            round(col("p").cast("double") / col("tp"), 6).as("weight"))
          .orderBy(col("epoch"), col("source"))
      },
      Some {
        val arms = MixtureTaus.zipWithIndex
          .map { case ((tauMicro, powSql), i) =>
            s"""SELECT CAST(${i + 1} AS BIGINT) AS epoch,
                 CAST($tauMicro AS BIGINT) AS tau_micro, source, n_tokens,
                 CAST(floor(${powSql("n_tokens")} * 1000 + 0.5) AS BIGINT) AS p
               FROM ps"""
          }
          .mkString("\n             UNION ALL ")
        s"""WITH ps AS (
               SELECT source, CAST(sum(len(${Tokenize.toksSql})) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
             e AS ($arms),
             t AS (SELECT epoch, CAST(sum(p) AS BIGINT) AS tp FROM e GROUP BY epoch)
             SELECT e.epoch, tau_micro, source, n_tokens,
               round(CAST(p AS DOUBLE) / tp, 6) AS weight
             FROM e JOIN t ON e.epoch = t.epoch
             ORDER BY e.epoch, source"""
      }
    ),
    // --------------------------------------------------------------- q199
    // Token-budget epoch PLANNER — the allocation step between a mixture
    // (q193's weights) and a training run: given a total token budget
    // (here 3x the corpus's natural tokens — a multi-epoch run) and the
    // tau=0.5 flattened target weights, emit per source the target token
    // allocation, the implied epoch count (how many passes over that
    // source the sampler must make), the published max-epoch cap
    // (~4 epochs before repetition hurts, per the Muennighoff
    // data-constrained scaling analysis), and the deficit the cap leaves
    // unfilled — the number the run planner rebalances with. Arithmetic
    // is the q193 convention end-to-end: integer milli-unit powers via
    // correctly-rounded sqrt, exact integer totals, then ONE IEEE double
    // multiply-divide per derived column, rounded identically in both
    // engines (round-half-up on positives). One tiny per-source
    // aggregate + a broadcast single-row total — nothing but the source
    // hash-agg ever shuffles, at any corpus size.
    QueryDef(
      "q199_token_budget",
      (s, dir) => {
        val ps = Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .groupBy(col("source"))
          .agg(sum(size(col("toks"))).cast("long").as("n_tokens"))
          .withColumn(
            "p",
            expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5) AS BIGINT)"))
          .localCheckpoint(eager = false) // the totals row re-reads the aggregate
        val totals = ps.agg(
          sum(col("p")).as("tp"),
          (sum(col("n_tokens")) * 3L).as("budget"))
        ps.crossJoin(broadcast(totals))
          .select(
            col("source"),
            col("n_tokens"),
            round(col("p").cast("double") / col("tp"), 6).as("weight"),
            expr("CAST(round(CAST(budget AS DOUBLE) * p / tp, 0) AS BIGINT)")
              .as("target_tokens"))
          .withColumn("epochs", round(col("target_tokens").cast("double") / col("n_tokens"), 6))
          .withColumn("epochs_capped", least(col("epochs"), lit(4.0)))
          .withColumn(
            "deficit_tokens",
            col("target_tokens") - least(col("target_tokens"), col("n_tokens") * 4L))
          .orderBy(col("source"))
      },
      Some(s"""WITH ps AS (
               SELECT source, CAST(sum(len(${Tokenize.toksSql})) AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
             wp AS (SELECT source, n_tokens,
                 CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5) AS BIGINT) AS p
               FROM ps),
             t AS (SELECT CAST(sum(p) AS BIGINT) AS tp,
                 CAST(sum(n_tokens) * 3 AS BIGINT) AS budget FROM wp),
             b AS (SELECT source, n_tokens,
                 round(CAST(p AS DOUBLE) / tp, 6) AS weight,
                 CAST(round(CAST(budget AS DOUBLE) * p / tp, 0) AS BIGINT) AS target_tokens
               FROM wp, t)
             SELECT source, n_tokens, weight, target_tokens,
               round(CAST(target_tokens AS DOUBLE) / n_tokens, 6) AS epochs,
               least(round(CAST(target_tokens AS DOUBLE) / n_tokens, 6), 4.0) AS epochs_capped,
               target_tokens - least(target_tokens, n_tokens * 4) AS deficit_tokens
             FROM b ORDER BY source""")
    ),
    // --------------------------------------------------------------- q200
    // Deterministic EPOCH SHUFFLE manifest — the global-shuffle step
    // between curation and the data loader: training wants each epoch
    // to visit documents in a different, uniformly-mixed order, and
    // wants that order REPRODUCIBLE from the data alone (restarts,
    // backfills, and audits must agree with no RNG state). Each doc
    // keeps its stable q125 shard (unsalted shardOf — data placement
    // never moves between epochs; only in-shard order changes) and gets
    // an epoch-salted md5 order key; its position is the q182
    // DISTRIBUTED per-shard rank (range-exchange + local rank + tiny
    // broadcast offsets), never a 16-task window funnel. A loader
    // replays epoch e by re-deriving ord with salt 'ep<e>|' — no stored
    // permutation. One narrow map + the rank's range exchange at any
    // scale.
    QueryDef(
      "q200_epoch_shuffle",
      (s, dir) => {
        val d = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"))
          .withColumn("shard", graft.operators.Layout.shardOf(col("doc_id"), 16))
          .withColumn("ord", md5(concat(lit("ep1|"), col("doc_id").cast("string"))))
        graft.operators.Ranks
          .distributedRank(d, Seq("shard"), Seq(col("ord"), col("doc_id")))
          .select(col("shard"), col("rnk").as("pos"), col("doc_id"), col("ord"))
          .orderBy(col("shard"), col("pos"))
      },
      Some(s"""WITH d AS (
               SELECT doc_id,
                 md5(CAST(doc_id AS VARCHAR)) AS h,
                 md5('ep1|' || CAST(doc_id AS VARCHAR)) AS ord
               FROM documents),
             sh AS (SELECT doc_id, ord,
                 ${graft.operators.Layout.shardOfSql("h", 16)} AS shard
               FROM d)
             SELECT shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT)
                 AS pos,
               doc_id, ord
             FROM sh ORDER BY shard, pos""")
    )
  )

  /** The annealing schedule: (tau in micro-units, n^tau as engine-shared
    * SQL built from correctly-rounded sqrt only — see q193). A `def`
    * (not a val after `entries`) per the eager-interpolation rule.
    */
  private def MixtureTaus: Seq[(Long, String => String)] = Seq(
    (1000000L, (c: String) => s"CAST($c AS DOUBLE)"),
    (750000L, (c: String) => s"(sqrt(CAST($c AS DOUBLE)) * sqrt(sqrt(CAST($c AS DOUBLE))))"),
    (500000L, (c: String) => s"sqrt(CAST($c AS DOUBLE))"),
    (250000L, (c: String) => s"sqrt(sqrt(CAST($c AS DOUBLE)))")
  )

  /** q179's blocklist as a SQL literal list body — a documented
    * stand-in for the public C4 badwords list (~400 terms), chosen
    * against the synthetic vocabulary so hit, multi-hit, and zero-hit
    * paths all occur: 'dup' appears in a small minority of docs;
    * 'leak'/'spam' never.
    */
  /** The shared end of the q167/q173 recipe oracles, after the
    * exact-dedup survivors `ex`: fuzzy MinHash-band dedup over the
    * shingles of token column `toks` (a bucket's smallest doc_id
    * survives), the per-(lang, source) 5% validation split, and the
    * seeded shard manifest over the columns `cols`.
    */
  private def recipeTailSql(toks: String, cols: String): String =
    s"""${shingleMinhashCtes(toks, "ex")},
             $bandBucketCte,
             dropf AS (SELECT DISTINCT b1.doc_id
               FROM bq b1 JOIN (SELECT bucket, min(doc_id) AS m FROM bq GROUP BY bucket) bm
                 ON b1.bucket = bm.bucket AND bm.m < b1.doc_id),
             sv AS (SELECT * FROM ex
               WHERE NOT EXISTS (SELECT 1 FROM dropf WHERE dropf.doc_id = ex.doc_id)),
             qs AS (SELECT $cols,
                 CASE WHEN row_number() OVER (PARTITION BY lang, source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                        <= (count(*) OVER (PARTITION BY lang, source) + 19) // 20
                      THEN 'val' ELSE 'train' END AS split
               FROM sv)
             SELECT $cols, split,
               CAST(row_number() OVER (ORDER BY md5('s42|' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                 AS BIGINT) AS pos,
               CAST((row_number() OVER (ORDER BY md5('s42|' || CAST(doc_id AS VARCHAR)), doc_id) - 1)
                 % 16 AS BIGINT) AS shard
             FROM qs ORDER BY pos"""

  // a def: `entries` oracle strings interpolate eagerly at object init,
  // and this is declared after them (same rule as qualityScoreOracle)
  private def BlocklistSql: String = Seq("dup", "leak", "spam").map(w => s"'$w'").mkString(", ")

  /** The per-document INGEST gate — q173's document-local stages
    * (PII scrub + density drop -> C4 blocklist -> rule + classifier
    * quality gate -> clean-token hash), factored out so the nightly
    * batch recipe and the streaming ingest path run the SAME code:
    * both recipeSurvivors (q173) and q181's foreachBatch CALL this
    * function, so the no-drift claim is structural, not aspirational.
    * Deliberately excludes the corpus-GLOBAL stages (domain cap,
    * fuzzy banding, split/shard): those need global counts and run in
    * compaction, not at ingest — this function is everything that can
    * be decided from one document alone, which is exactly what a
    * micro-batch can apply. Output: (doc_id, lang, source, [extra...],
    * pii_ppm, n_words, logit_micro, cm[, toks]) for gate survivors —
    * `extra` carries caller columns (q173's domain) through every
    * stage, `keepToks` retains the cleaned tokens for downstream
    * stages (q173's fuzzy dedup).
    */
  private[graft] def ingestGate(
      docs: DataFrame,
      extra: Seq[String] = Nil,
      keepToks: Boolean = false): DataFrame = {
    val keyCols = Seq("doc_id", "lang", "source") ++ extra
    val aug = docs.select(
      keyCols.map(col) :+ expr(PiiOps.piiGenSql).as("aug"): _*)
    val gated = PiiOps
      .piiClean(aug)
      .filter(col("pii_ppm") < PiiOps.PpmDropThreshold)
      .select(
        keyCols.map(col) ++ Seq(col("pii_ppm"), Tokenize.toksExprOf("clean_text").as("toks")): _*)
      .filter(size(col("toks")) >= 1)
      .filter(expr(s"size(filter(toks, x -> x IN ($BlocklistSql))) = 0"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn(
        "mean_wlen_micro",
        expr("(aggregate(toks, 0L, (a, x) -> a + length(x)) * 1000000) div size(toks)"))
      .withColumn(
        "alpha_ppm",
        expr("(cast(size(filter(toks, x -> regexp_like(x, '[a-z]'))) as bigint) * 1000000) div size(toks)")
          .cast("long"))
      .withColumn(
        "ttr_ppm",
        expr("(cast(size(array_distinct(toks)) as bigint) * 1000000) div size(toks)").cast("long"))
      .withColumn(
        "stop_hits",
        expr("""size(array_intersect(array_distinct(toks),
               array('the','be','to','of','and','that','have','with')))""").cast("long"))
      .withColumn("logit_micro", expr(TextOps.qualityLogitSql))
      .filter(
        col("n_words") >= 20L &&
          col("mean_wlen_micro").between(3000000L, 10000000L) &&
          col("alpha_ppm") >= 800000L &&
          col("logit_micro") >= 0L)
      .withColumn("cm", md5(concat_ws(" ", col("toks"))))
    gated.select(
      (keyCols ++ Seq("pii_ppm", "n_words", "logit_micro", "cm")
        ++ (if (keepToks) Seq("toks") else Nil)).map(col): _*)
  }

  /** q181's oracle: [[ingestGate]] over ALL documents as DuckDB CTEs
    * (ending in h(doc_id, lang, source, pii_ppm, n_words, logit_micro,
    * cm)), then the q174/q176 monotone first-arrival dedup rule for the
    * arriving slice — history (doc_id % 5 <> 0) or any lower-id arrival
    * with the same clean-token hash drops a doc. A def: declared after
    * `entries`.
    */
  private[graft] def ingestRecipeOracleSql: String =
    s"""WITH a AS (SELECT doc_id, lang, source, ${PiiOps.piiGenSql} AS aug FROM documents),
       p AS (SELECT doc_id, lang, source,
           ${PiiOps.cleanTextSql} AS clean_text, ${PiiOps.piiPpmSql} AS pii_ppm FROM a),
       tk AS (SELECT doc_id, lang, source, pii_ppm,
           ${Tokenize.toksSqlOf("clean_text")} AS toks
         FROM p WHERE pii_ppm < ${PiiOps.PpmDropThreshold}),
       bl AS (SELECT * FROM tk WHERE len(toks) >= 1
         AND len(list_filter(toks, x -> list_contains([$BlocklistSql], x))) = 0),
       ft AS (SELECT *, CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, x -> length(x)))
             * 1000000 // len(toks) AS BIGINT) AS mean_wlen_micro,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
             * 1000000 // len(toks) AS BIGINT) AS alpha_ppm,
           CAST(len(list_distinct(toks)) * 1000000 // len(toks) AS BIGINT) AS ttr_ppm,
           CAST(len(list_intersect(list_distinct(toks),
             ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         FROM bl),
       g AS (SELECT *, CAST(${TextOps.qualityLogitSql} AS BIGINT) AS logit_micro FROM ft
         WHERE n_words >= 20
           AND mean_wlen_micro BETWEEN 3000000 AND 10000000
           AND alpha_ppm >= 800000
           AND ${TextOps.qualityLogitSql} >= 0),
       h AS (SELECT doc_id, lang, source, pii_ppm, n_words, logit_micro,
           md5(array_to_string(toks, ' ')) AS cm FROM g),
       dropd AS (SELECT DISTINCT m.doc_id FROM h m JOIN h e
           ON m.cm = e.cm AND (e.doc_id % 5 <> 0 OR e.doc_id < m.doc_id)
         WHERE m.doc_id % 5 = 0)
       SELECT doc_id, lang, source, pii_ppm, n_words, logit_micro FROM h
       WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM dropd)
       ORDER BY doc_id"""

  /** q173 stages 1-5 — canonicalize -> domain cap -> PII scrub ->
    * rules + logit gate -> exact dedup — WITHOUT the checkpoint, so
    * the plan is inspectable end to end. Two parquet scans by DESIGN:
    * the wide data path (with text) and the cap-offsets side, which
    * Catalyst column-prunes to a narrow (doc_id, lang, source)
    * re-scan — at 100 TB re-reading 3 columns of a columnar format is
    * far cheaper than materializing the wide rows to force exchange
    * reuse (PlanShapeSpec pins <= 2 scans with <= 1 carrying text, on
    * this real pre-checkpoint subtree; asserting on the final query
    * would be vacuous, since the localCheckpoint hides everything
    * upstream behind an ExistingRDD).
    * Exact dedup is a single min_by hash-aggregate — keep the
    * lowest-doc_id row per clean-token hash in ONE shuffle, with no
    * keepers self-join (doc_id is unique, so min_by is
    * deterministic).
    */
  private[graft] def recipeSurvivors(s: SparkSession, dir: String): DataFrame = {
    // -- 1. canonicalize (narrow) — domain is all the composite
    //       keeps; text flows on for the later stages
    val base = urlParts(Engine.table(s, dir, "documents"))
      .select(
        col("doc_id"), col("lang"), col("source"), col("text"), col("domain"),
        md5(concat(lit("d|"), col("doc_id").cast("string"))).as("hk"))
    // -- 2. domain cap — the shared distributed rank (q164's shape),
    //       wide rows ride the single range exchange
    val capped = graft.operators.Ranks
      .distributedRank(base, Seq("domain"), Seq(col("hk"), col("doc_id")))
      .filter(col("rnk") <= DomainCap)
      .drop("rnk", "n")
    // -- 3+4. PII scrub + density drop, C4 blocklist, rules +
    //         classifier logit: THE ingest gate — the same code object
    //         q181 runs per micro-batch (the "batch and stream cannot
    //         drift" claim is structural, not aspirational), with the
    //         domain column carried through and the cleaned tokens kept
    //         for the fuzzy-dedup stage downstream
    val feat = ingestGate(capped, extra = Seq("domain"), keepToks = true)
    // -- 5. exact dedup keep-lowest: ONE min_by hash-aggregate on the
    //       gate's clean-token hash
    feat
      .groupBy(col("cm"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        min_by(
          struct(
            col("lang"), col("source"), col("domain"), col("pii_ppm"),
            col("n_words"), col("logit_micro"), col("toks")),
          col("doc_id")).as("p"))
      .select(
        col("doc_id"), col("p.lang"), col("p.source"), col("p.domain"),
        col("p.pii_ppm"), col("p.n_words"), col("p.logit_micro"), col("p.toks"))
  }
}
