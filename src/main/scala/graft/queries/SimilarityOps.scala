package graft.queries

import graft.{Engine, QueryDef}
import graft.functions.VectorOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * q60 is brute-force cosine top-k — the exact baseline. q61 is the
  * scale path: random-hyperplane LSH bucketing so each query only scores
  * candidates in its bucket. q54-style near-dup pairs live here too.
  *
  * Determinism: cosine is computed with the same explicit formula in
  * Spark and the DuckDB oracle; ordering keys are cosine values
  * quantized to 6 decimals with vec_id tiebreaks, so FP last-bit noise
  * cannot reorder results.
  *
  * Scale notes (100 TB): brute-force is a broadcast of the (small) query
  * set against a partitioned scan of the corpus — embarrassingly
  * parallel, no shuffle until the per-query top-k (which is a partial
  * top-k per partition + merge under TakeOrderedAndProject semantics
  * via window over qid). LSH replaces the full scan with a bucket-key
  * shuffle join; recall tunes with #planes/#tables.
  */
object SimilarityOps {

  /** embeddings with the squared norm precomputed once per row — pair
    * scoring then costs one dot product instead of three array passes.
    * The arithmetic (dot / sqrt(n2a * n2b)) is identical to computing
    * norms per pair, so results are bit-equal to the naive form.
    */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Engine
      .table(s, dir, "embeddings")
      // single-file scan = one partition locally; spread pair scoring
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
      .withColumn("n2", norm2(col("e")))

  private val embSql =
    """SELECT vec_id, label, e, list_sum(list_transform(e, x -> x * x)) AS n2 FROM
       (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings) raw"""

  /** explicit-formula cosine with precomputed norms (matches the Spark side) */
  private def cosSql(a: String, b: String, n2a: String, n2b: String): String =
    s"(list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / sqrt($n2a * $n2b))"

  private def cosCol(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    dot(a, b) / sqrt(n2a * n2b)

  // ---- banded sign-random-projection candidates (the ANN scale path) ----
  //
  // BANDS bands of BAND_W hyperplanes each: a vector's band value packs
  // the BAND_W sign bits of its plane projections; two vectors are
  // candidates iff they share label AND at least one band value (the
  // MinHash-LSH banding scheme transplanted to cosine space). Candidate
  // generation is a shuffle join on the tiny (label, band, value) key —
  // never all-pairs — and only candidates pay the exact cosine verify.
  //
  // Plane coordinates are pseudo-random via frac(sin(k)*1e4), rounded to
  // 6 decimals so the literal values interpolated into the DuckDB oracle
  // (bandPlanesSqlValues) are bit-identical to the Spark side — the gate
  // checks the banded operator EXACTLY; recall vs the exact all-pairs
  // baseline is pinned separately in QueriesSpec. At this corpus's
  // tuned threshold (0.45, near-random vectors) measured recall is 1.0
  // at sf0.01 and 0.8 at sf0.1 scoring ~41% of within-label pairs; at a
  // production near-dup threshold (0.95+) band collisions are nearly
  // certain for true pairs and the candidate ratio collapses, which is
  // exactly when this shape pays off at 100 TB.
  private[queries] val BANDS = 8
  private[queries] val BAND_W = 4

  private[queries] val bandPlanes: IndexedSeq[IndexedSeq[Double]] =
    (0 until BANDS * BAND_W).map { p =>
      (0 until 64).map { d =>
        val v = math.sin(p * 64 + d + 1) * 10000.0
        val frac = v - math.floor(v)
        math.round((frac * 2 - 1) * 1e6) / 1e6
      }
    }

  /** DuckDB VALUES rows `(p, pv)` holding the same plane literals. */
  private[queries] val bandPlanesSqlValues: String =
    bandPlanes.zipWithIndex
      .map { case (pl, p) => s"($p, [${pl.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n               ")

  /** Same-label band-colliding candidate pairs (id_a < id_b), distinct. */
  private[queries] def bandedCandidates(e: DataFrame): DataFrame = {
    val bandCols = (0 until BANDS).map { b =>
      (0 until BAND_W)
        .map { w =>
          val pl = typedLit(bandPlanes(b * BAND_W + w))
          when(round(dot(col("e"), pl), 6) >= 0, 1 << w).otherwise(0)
        }
        .reduce(_ + _)
    }
    // the band array goes DIRECTLY into the generator: a named column
    // would let InferFiltersFromGenerate push the inlined 32-projection
    // expression below the exchange as a pre-shuffle filter.
    // localCheckpoint materializes the tiny (vec_id, label, band, bv)
    // table ONCE — without it the self-join recomputes all 32 dot
    // products per vector on BOTH join sides (the same tiles pattern as
    // q100; invisible at sf0.1, 2x projection work saved at scale).
    val bands = e
      .select(
        col("vec_id"),
        col("label"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bv"))
      )
      .localCheckpoint(eager = false)
    bands
      .as("x")
      .join(
        bands.as("y"),
        col("x.label") === col("y.label") && col("x.band") === col("y.band") &&
          col("x.bv") === col("y.bv") && col("x.vec_id") < col("y.vec_id")
      )
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
  }

  /** The drop set of embedding-cosine near-dup dedup: the higher-id
    * member of every same-label BANDED-CANDIDATE pair whose
    * 6-decimal-rounded cosine clears `threshold` (greedy keep-lowest).
    * Candidates come from `bandedCandidates` — the scale path — and only
    * they are scored. Single source of the dedup threshold — shared by
    * q57 and the q99 curation pipeline; the exact all-pairs baseline is
    * `embDropIdsExact` below (recall pinned in QueriesSpec).
    */
  private[queries] def embDropIds(
      s: SparkSession,
      dir: String,
      threshold: Double = 0.45): DataFrame = {
    val e = emb(s, dir)
    bandedCandidates(e)
      .join(e.select(col("vec_id").as("id_a"), col("e").as("ea"), col("n2").as("n2a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("e").as("eb"), col("n2").as("n2b")), "id_b")
      .filter(round(cosCol(col("ea"), col("eb"), col("n2a"), col("n2b")), 6) >= threshold)
      .select(col("id_b"))
      .distinct()
  }

  /** Exact all-pairs drop set (label-blocked O(n^2/labels)) — the
    * recall baseline for `embDropIds`, not a 100 TB plan.
    */
  private[queries] def embDropIdsExact(
      s: SparkSession,
      dir: String,
      threshold: Double = 0.45): DataFrame = {
    val e = emb(s, dir)
    e.as("a")
      .join(e.as("b"), col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(cosCol(col("a.e"), col("b.e"), col("a.n2"), col("b.n2")), 6) >= threshold)
      .select(col("b.vec_id").as("id_b"))
      .distinct()
  }

  /** 8 LSH bucketing hyperplanes for q61 — same literal-interpolation
    * scheme as bandPlanes (sin-frac generator, disjoint k range, 6-dp
    * rounded) so the DuckDB oracle reproduces the buckets bit-exactly.
    */
  private[queries] val lshPlanes: IndexedSeq[IndexedSeq[Double]] =
    (0 until 8).map { p =>
      (0 until 64).map { d =>
        val v = math.sin(2048 + p * 64 + d + 1) * 10000.0
        val frac = v - math.floor(v)
        math.round((frac * 2 - 1) * 1e6) / 1e6
      }
    }

  private[queries] val lshPlanesSqlValues: String =
    lshPlanes.zipWithIndex
      .map { case (pl, p) => s"($p, [${pl.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n               ")

  /** Oracle snippet: CTEs `bplanes`/`bbits`/`bbands`/`bcand`/`embp` that
    * reproduce `embDropIds` over an embeddings CTE named `embCte` with
    * columns (vec_id, label, e, n2). Interpolate after that CTE.
    */
  private[queries] def embDropSql(embCte: String): String =
    s"""bplanes AS (SELECT * FROM (VALUES
               $bandPlanesSqlValues) pl(p, pv)),
             bbits AS (SELECT t.vec_id, t.label, p.p // $BAND_W AS band,
                 CASE WHEN round(list_sum(list_transform(list_zip(t.e, p.pv),
                     x -> x[1] * x[2])), 6) >= 0
                   THEN 1 << (p.p % $BAND_W) ELSE 0 END AS bitv
               FROM $embCte t CROSS JOIN bplanes p),
             bbands AS (SELECT vec_id, label, band, sum(bitv) AS bv
               FROM bbits GROUP BY vec_id, label, band),
             bcand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
               FROM bbands x JOIN bbands y
                 ON x.label = y.label AND x.band = y.band AND x.bv = y.bv
                   AND x.vec_id < y.vec_id),
             embp AS (SELECT DISTINCT c.id_b FROM bcand c
               JOIN $embCte a ON a.vec_id = c.id_a
               JOIN $embCte b ON b.vec_id = c.id_b
               WHERE round(${cosSql("a.e", "b.e", "a.n2", "b.n2")}, 6) >= 0.45)"""

  /** LSH-bucketed ANN top-k over the literal lshPlanes: 8 sign bits ->
    * 256 buckets, each query scores only its bucket. Broadcast the tiny
    * query set; candidates come from the bucket equi-join — at 100 TB
    * this is one shuffle on the bucket key instead of a full scan per
    * query.
    */
  private[queries] def annLsh(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = emb(s, dir)
    val bucketed = e.withColumn(
      "bucket",
      (0 until 8)
        .map(p => when(round(dot(col("e"), typedLit(lshPlanes(p))), 6) >= 0, 1 << p).otherwise(0))
        .reduce(_ + _)
    )
    val q = bucketed
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn2"), col("bucket"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    broadcast(q)
      .join(bucketed, Seq("bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select(
        col("qid"),
        col("vec_id").as("cid"),
        round(cosCol(col("qe"), col("e"), col("qn2"), col("n2")), 6).as("cos")
      )
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("cos"), col("rn"))
  }

  /** Oracle CTEs reproducing annLsh over a CTE `t` = (vec_id, label, e,
    * n2); final CTE `lr` = (qid, cid, cos, rn).
    */
  private[queries] def annLshSql: String =
    s"""lplanes AS (SELECT * FROM (VALUES
               $lshPlanesSqlValues) pl(p, pv)),
             lbits AS (SELECT t.vec_id, CASE WHEN round(list_sum(list_transform(
                   list_zip(t.e, p.pv), x -> x[1] * x[2])), 6) >= 0
                 THEN 1 << p.p ELSE 0 END AS bitv
               FROM t CROSS JOIN lplanes p),
             lbuck AS (SELECT vec_id, CAST(sum(bitv) AS BIGINT) AS bucket
               FROM lbits GROUP BY vec_id),
             tb AS (SELECT t.vec_id, t.e, t.n2, b.bucket FROM t JOIN lbuck b USING (vec_id)),
             lq AS (SELECT vec_id AS qid, e AS qe, n2 AS qn2, bucket FROM tb WHERE vec_id < 20),
             lsc AS (SELECT lq.qid, c.vec_id AS cid,
                 round(${cosSql("lq.qe", "c.e", "lq.qn2", "c.n2")}, 6) AS cos
               FROM lq JOIN tb c USING (bucket) WHERE lq.qid <> c.vec_id),
             lr AS (SELECT qid, cid, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM lsc)"""

  /** IVF-style ANN top-k: deterministic coarse centroids (vec_id < 16),
    * nearest-centroid assignment, 2-probe search.
    */
  private[queries] def annIvf(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = emb(s, dir)
    val cents = e
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("e").as("ce"), col("n2").as("cn2"))
    // assignment: nearest centroid per vector (IVF build)
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cent_id"))
    val assigned = e
      .crossJoin(broadcast(cents))
      .withColumn("ccos", round(cosCol(col("e"), col("ce"), col("n2"), col("cn2")), 6))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("label"), col("e"), col("n2"), col("cent_id"))
    // probe: each query visits its 2 nearest centroids' lists
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("qcos").desc, col("cent_id"))
    val probes = e
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn2"))
      .crossJoin(broadcast(cents))
      .withColumn("qcos", round(cosCol(col("qe"), col("ce"), col("qn2"), col("cn2")), 6))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= 2)
      .select(col("qid"), col("qe"), col("qn2"), col("cent_id"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    probes
      .join(assigned, Seq("cent_id"))
      .filter(col("qid") =!= col("vec_id"))
      .select(
        col("qid"),
        col("vec_id").as("cid"),
        round(cosCol(col("qe"), col("e"), col("qn2"), col("n2")), 6).as("cos")
      )
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("cos"), col("rn"))
  }

  /** 4 tables x 6 planes for OR-amplified multi-table LSH (q132) — the
    * standard fix for the single-table recall q124 measures: a true
    * neighbor is a candidate if it collides in ANY table, so recall
    * amplifies 1-(1-p^6)^4 while the candidate set stays bucket-bounded.
    * Same literal-interpolation scheme (disjoint sin k-range).
    */
  private[queries] val multiPlanes: IndexedSeq[IndexedSeq[Double]] =
    (0 until 24).map { p =>
      (0 until 64).map { d =>
        val v = math.sin(4096 + p * 64 + d + 1) * 10000.0
        val frac = v - math.floor(v)
        math.round((frac * 2 - 1) * 1e6) / 1e6
      }
    }

  private[queries] val multiPlanesSqlValues: String =
    multiPlanes.zipWithIndex
      .map { case (pl, p) => s"($p, [${pl.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n               ")

  /** Multi-table LSH ANN top-k: candidates = union of per-table bucket
    * collisions (distinct pairs), scored exactly, ranked per query.
    */
  private[queries] def annMulti(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = emb(s, dir)
    val tableCols = (0 until 4).map { t =>
      (0 until 6)
        .map { w =>
          val pl = typedLit(multiPlanes(t * 6 + w))
          when(round(dot(col("e"), pl), 6) >= 0, 1 << w).otherwise(0)
        }
        .reduce(_ + _)
    }
    // generator input stays inline (no named column) — see bandedCandidates
    val keyed = e.select(
      col("vec_id"),
      posexplode(array(tableCols: _*)).as(Seq("tbl", "bv"))
    )
    val q = keyed
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("tbl"), col("bv"))
    val cand = broadcast(q)
      .join(keyed, Seq("tbl", "bv"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id").as("cid"))
      .distinct()
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand
      .join(e.select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn2")), "qid")
      .join(e.select(col("vec_id").as("cid"), col("e").as("ce"), col("n2").as("cn2")), "cid")
      .select(
        col("qid"),
        col("cid"),
        round(cosCol(col("qe"), col("ce"), col("qn2"), col("cn2")), 6).as("cos")
      )
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("qid"), col("cid"), col("cos"), col("rn"))
  }

  /** Oracle CTEs reproducing annMulti over a CTE `t`; final CTE `mr`. */
  private[queries] def annMultiSql: String =
    s"""mplanes AS (SELECT * FROM (VALUES
               $multiPlanesSqlValues) pl(p, pv)),
             mbits AS (SELECT t.vec_id, p.p // 6 AS tbl,
                 CASE WHEN round(list_sum(list_transform(list_zip(t.e, p.pv),
                     x -> x[1] * x[2])), 6) >= 0
                   THEN 1 << (p.p % 6) ELSE 0 END AS bitv
               FROM t CROSS JOIN mplanes p),
             mkeys AS (SELECT vec_id, tbl, sum(bitv) AS bv
               FROM mbits GROUP BY vec_id, tbl),
             mq AS (SELECT vec_id AS qid, tbl, bv FROM mkeys WHERE vec_id < 20),
             mcand AS (SELECT DISTINCT mq.qid, c.vec_id AS cid
               FROM mq JOIN mkeys c USING (tbl, bv) WHERE mq.qid <> c.vec_id),
             msc AS (SELECT mc.qid, mc.cid,
                 round(${cosSql("a.e", "b.e", "a.n2", "b.n2")}, 6) AS cos
               FROM mcand mc JOIN t a ON a.vec_id = mc.qid JOIN t b ON b.vec_id = mc.cid),
             mr AS (SELECT qid, cid, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM msc)"""

  /** Oracle CTEs reproducing annIvf over a CTE `t`; final CTE `ir`. */
  private[queries] def annIvfSql: String =
    s"""cents AS (SELECT vec_id AS cent_id, e AS ce, n2 AS cn2 FROM t WHERE vec_id < 16),
             iasg0 AS (SELECT t.vec_id, t.e, t.n2, c.cent_id,
                 row_number() OVER (PARTITION BY t.vec_id
                   ORDER BY round(${cosSql("t.e", "c.ce", "t.n2", "c.cn2")}, 6) DESC,
                     c.cent_id) AS arn
               FROM t CROSS JOIN cents c),
             iasg AS (SELECT vec_id, e, n2, cent_id FROM iasg0 WHERE arn = 1),
             iprobe0 AS (SELECT t.vec_id AS qid, t.e AS qe, t.n2 AS qn2, c.cent_id,
                 row_number() OVER (PARTITION BY t.vec_id
                   ORDER BY round(${cosSql("t.e", "c.ce", "t.n2", "c.cn2")}, 6) DESC,
                     c.cent_id) AS prn
               FROM t CROSS JOIN cents c WHERE t.vec_id < 20),
             iprobe AS (SELECT qid, qe, qn2, cent_id FROM iprobe0 WHERE prn <= 2),
             isc AS (SELECT p.qid, a.vec_id AS cid,
                 round(${cosSql("p.qe", "a.e", "p.qn2", "a.n2")}, 6) AS cos
               FROM iprobe p JOIN iasg a USING (cent_id) WHERE p.qid <> a.vec_id),
             ir AS (SELECT qid, cid, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM isc)"""

  /** Integer micro-unit vectors (+2^24 offset — non-negative, so the
    * centroid-mean division floors identically in both engines and the
    * offset cancels in distances) — shared by q147/q148.
    */
  private[graft] def ivecs(s: SparkSession, dir: String): DataFrame =
    toIv(Engine.table(s, dir, "embeddings")).localCheckpoint(eager = false)

  /** Float embedding -> exact-integer micro-unit vector (vec_id, iv) —
    * THE one spelling of the quantization every integer-L2 kernel
    * assumes; [[ivecs]] applies it to the table, the q210 streaming
    * appends apply it per micro-batch.
    */
  private[graft] def toIv(df: DataFrame): DataFrame =
    df.select(
      col("vec_id"),
      expr("transform(cast(embedding as array<double>), " +
        "x -> cast(floor(x * 1000000 + 0.5d) as bigint) + 16777216L)").as("iv")
    )

  /** SemDeDup's scale knob: target within-cluster population. k grows
    * as ceil(n / 256) (floor 16) so cluster size — and the
    * within-cluster pair scan — stays ~constant as the corpus grows:
    * pair work is O(256·n), LINEAR in n, where a fixed k would be
    * O(n²/k) quadratic (real SemDeDup scales k with corpus size for
    * exactly this reason). The count(*) that sizes k is a
    * metadata-only parquet read, not a scan, and the oracle recomputes
    * the identical k from its own count(*).
    */
  private val TargetClusterSize = 256L

  // Memoized per sf directory: the embeddings table is immutable for the
  // life of a run, and q147 + q148 (and every bench pass over them) would
  // otherwise each pay the sizing count(*) job — a metadata-only read, but
  // still a Spark job submission (~0.1 s) on the hot path. The memo key
  // includes the table file's (mtime, size) so a regenerated corpus at
  // the SAME path (fixture rewrite, sf re-materialization within one JVM)
  // never reuses a stale k — the oracle recomputes k from the data, so a
  // stale cache here would silently diverge q147/q148/q159.
  // One entry per dir (old fingerprints evicted on change, so the memo
  // cannot grow across regenerations), keyed by a fingerprint that
  // recurses into part files when embeddings.parquet is a DIRECTORY —
  // a Spark-written dataset's top-level mtime/size (length 4096) would
  // otherwise miss a same-tick rewrite of the parts.
  private val kMemo = scala.collection.concurrent.TrieMap.empty[String, (String, Int)]

  private def embeddingsKey(dir: String): String = {
    val f = new java.io.File(dir, "embeddings.parquet")
    val parts =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName).map(p => s"${p.getName}:${p.lastModified}:${p.length}").mkString(",")
      else s"${f.lastModified}:${f.length}"
    s"$parts"
  }

  private def kmeansK(s: SparkSession, dir: String): Int = {
    val fp = embeddingsKey(dir)
    kMemo.get(dir) match {
      case Some((`fp`, k)) => k
      case _ =>
        val n = Engine.table(s, dir, "embeddings").count()
        val k = math.max(16L, (n + TargetClusterSize - 1) / TargetClusterSize).toInt
        kMemo.put(dir, (fp, k))
        k
    }
  }

  /** 2 exact-integer Lloyd rounds at k = max(16, ceil(n/256)) (init =
    * k lowest vec_ids; argmin ties to the lower cluster id; empty
    * clusters keep their previous centroid). Returns (vec_id, cid, d)
    * of the final assignment — the shared core of q147 and q148's
    * SemDeDup. At the gate scales (n = 500/2000) k stays at the floor
    * of 16; the synthetic sf1 replica (n = 20000) drives k to 79, so
    * the scaled path is what PERF.md measures.
    */
  private[graft] def kmeansAssign(s: SparkSession, dir: String): DataFrame = {
    val iv = ivecs(s, dir)
    val init = iv
      .orderBy(col("vec_id"))
      .limit(kmeansK(s, dir))
      .select(col("vec_id").as("cvid"), col("iv").as("cv"))
      .withColumn(
        "cid",
        (row_number().over(Window.orderBy(col("cvid"))) - 1).cast("long")
      )
      .select(col("cid"), col("cv"))
    def assign(cents: DataFrame): DataFrame =
      iv.crossJoin(broadcast(cents))
        // codegen'd native integer L2 (IntL2Sq): same Long arithmetic
        // as the composable aggregate() form it replaced, ~100x less
        // per-eval cost — the assign is (vectors x k) evaluations and
        // was the plan's dominant stage with the interpreted HOF
        .withColumn("d", graft.functions.VectorOps.l2sqLong(col("iv"), col("cv")))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d"), col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cid").as("cid"), col("best.d").as("d"))
    val round1 = assign(init)
    val means = round1
      .join(iv, "vec_id")
      .select(col("cid"), posexplode(col("iv")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("m"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), p -> p.m)").as("nv"))
    val cents1 = init
      .join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("nv"), col("cv")).as("cv"))
    assign(cents1)
  }

  /** DuckDB CTE chain mirroring [[kmeansAssign]]; ends with `a2` whose
    * rk=1 rows are the final (vec_id, cid, dist) assignment.
    */
  private val kmeansSql: String =
    """WITH t AS (
         SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 16777216) AS iv
         FROM embeddings),
       kk AS (
         SELECT greatest(16, (count(*) + 255) // 256) AS k FROM t),
       c0 AS (
         SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, iv AS cv
         FROM t QUALIFY cid < (SELECT k FROM kk)),
       a1 AS (
         SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         FROM (
           SELECT t.vec_id, c0.cid,
             list_sum(list_transform(generate_series(1, len(t.iv)),
               j -> (t.iv[j] - c0.cv[j]) * (t.iv[j] - c0.cv[j]))) AS dist
           FROM t CROSS JOIN c0)),
       m1 AS (
         SELECT a.cid, u.pos, CAST(sum(u.v) // count(*) AS BIGINT) AS m
         FROM a1 a JOIN t ON a.vec_id = t.vec_id,
           LATERAL (SELECT unnest(t.iv) AS v,
             unnest(generate_series(1, len(t.iv))) AS pos) u
         WHERE a.rk = 1
         GROUP BY a.cid, u.pos),
       c1 AS (
         SELECT c0.cid,
           coalesce(mm.nv, c0.cv) AS cv
         FROM c0 LEFT JOIN (
           SELECT cid, list(m ORDER BY pos) AS nv FROM m1 GROUP BY cid) mm
           ON c0.cid = mm.cid),
       a2 AS (
         SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
         FROM (
           SELECT t.vec_id, c1.cid,
             list_sum(list_transform(generate_series(1, len(t.iv)),
               j -> (t.iv[j] - c1.cv[j]) * (t.iv[j] - c1.cv[j]))) AS dist
           FROM t CROSS JOIN c1))"""

  /** nDCG's 1/log2(p+1) position discounts for p = 1..10, rounded to
    * 6dp — computed ONCE here and interpolated into BOTH the Spark
    * plan and the DuckDB oracle as identical literals (q238), so the
    * metric's only transcendental never touches either engine's libm.
    * Defined before `entries` (eager oracle interpolation rule).
    */
  private[graft] val dcgWeights: Seq[(Int, Double)] = (1 to 10).map { p =>
    p -> BigDecimal(1.0 / (math.log(p + 1.0) / math.log(2.0)))
      .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble
  }

  val entries: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- q54
    // Embedding near-dup pairs within label blocks: top-100 by cosine.
    // QUADRATIC RECALL BASELINE (like q56's edit-distance): within-label
    // all-pairs is O(n²/labels) and exists to measure the ANN paths'
    // recall, not to run at corpus scale — the 100 TB scale paths are
    // the banded/bucketed variants q57/q132 and SemDeDup q148.
    QueryDef(
      "q54_embedding_pairs",
      (s, dir) => {
        val e = emb(s, dir)
        e.as("a")
          .join(e.as("b"), col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .select(
            col("a.vec_id").as("id_a"),
            col("b.vec_id").as("id_b"),
            round(cosCol(col("a.e"), col("b.e"), col("a.n2"), col("b.n2")), 6).as("cos")
          )
          .orderBy(col("cos").desc, col("id_a"), col("id_b"))
          .limit(100)
      },
      Some(s"""WITH t AS ($embSql)
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(${cosSql("a.e", "b.e", "a.n2", "b.n2")}, 6) AS cos
             FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
             ORDER BY cos DESC, id_a, id_b LIMIT 100""")
    ),
    // ---------------------------------------------------------------- q60
    // Brute-force cosine top-5 neighbors for the first 20 query vectors.
    QueryDef(
      "q60_knn_bruteforce",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn2"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
        broadcast(q)
          .join(e, col("qid") =!= col("vec_id"))
          .select(
            col("qid"),
            col("vec_id").as("cid"),
            round(cosCol(col("qe"), col("e"), col("qn2"), col("n2")), 6).as("cos")
          )
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select(col("qid"), col("cid"), col("cos"), col("rn"))
          .orderBy(col("qid"), col("rn"))
      },
      Some(s"""WITH t AS ($embSql),
             q AS (SELECT vec_id AS qid, e AS qe, n2 AS qn2 FROM t WHERE vec_id < 20),
             sc AS (SELECT q.qid, t.vec_id AS cid, round(${cosSql("q.qe", "t.e", "q.qn2", "t.n2")}, 6) AS cos
               FROM q JOIN t ON q.qid <> t.vec_id),
             r AS (SELECT qid, cid, cos,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM sc)
             SELECT qid, cid, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""")
    ),
    // ---------------------------------------------------------------- q61
    // LSH-bucketed ANN: 8 deterministic literal hyperplanes -> 256
    // buckets; each query scores only its bucket. The oracle reproduces
    // the same buckets from the same plane literals, so the hash gate
    // checks the bucketed operator EXACTLY; recall vs brute force is
    // measured by q124 (oracle-gated) and asserted in tests.
    QueryDef(
      "q61_ann_lsh",
      (s, dir) => annLsh(s, dir).orderBy(col("qid"), col("rn")),
      Some(s"""WITH t AS ($embSql),
             $annLshSql
             SELECT qid, cid, cos, rn FROM lr WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // ---------------------------------------------------------------- q63
    // IVF-style ANN: 16 coarse centroids (deterministic sample), every
    // vector assigned to its nearest centroid (one broadcast pass — the
    // k*n assignment cost of IVF build); queries probe their 2 nearest
    // centroids and score only those inverted lists. Fully deterministic,
    // so the oracle recomputes the identical IVF structure in SQL and the
    // hash gate is exact; recall vs brute force is q124.
    QueryDef(
      "q63_ann_ivf",
      (s, dir) => annIvf(s, dir).orderBy(col("qid"), col("rn")),
      Some(s"""WITH t AS ($embSql),
             $annIvfSql
             SELECT qid, cid, cos, rn FROM ir WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // --------------------------------------------------------------- q124
    // ANN recall@3 — the accuracy contract of q61/q63 as an oracle-gated
    // integer result: per query vector, how many of the true (brute
    // force) top-3 neighbors each approximate index returned. Exact
    // integers, so the DuckDB oracle (which recomputes brute force, LSH
    // buckets, and the IVF structure from the same literals) hash-matches.
    // This is the "measure recall before trusting the index" step of any
    // production ANN deployment, runnable on a sample at 100 TB.
    // Measured at sf0.01: IVF 2-probe recall@3 = 52/60 (~0.87); LSH
    // single-table 8-bit = 2/60 — on isotropic vectors whose true
    // neighbors (cos ~0.5) are barely closer than random pairs,
    // sign-LSH needs many OR-ed tables to recall anything, while the
    // IVF partition adapts to the data. This measurement is WHY the
    // engine's recommended ANN path is IVF; q61 stays as the canonical
    // (exactly-gated) banding demonstration.
    QueryDef(
      "q124_ann_recall",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("e").as("qe"), col("n2").as("qn2"))
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
        val brute3 = broadcast(q)
          .join(e, col("qid") =!= col("vec_id"))
          .select(
            col("qid"),
            col("vec_id").as("cid"),
            round(cosCol(col("qe"), col("e"), col("qn2"), col("n2")), 6).as("cos")
          )
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("cid"))
        val lsh3 = annLsh(s, dir).select(col("qid"), col("cid"))
        val ivf3 = annIvf(s, dir).select(col("qid"), col("cid"))
        val hitsL = brute3
          .join(lsh3, Seq("qid", "cid"), "left_semi")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("hits_lsh"))
        val hitsI = brute3
          .join(ivf3, Seq("qid", "cid"), "left_semi")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("hits_ivf"))
        brute3
          .select(col("qid"))
          .distinct()
          .join(hitsL, Seq("qid"), "left")
          .join(hitsI, Seq("qid"), "left")
          .select(
            col("qid"),
            lit(3L).as("k"),
            coalesce(col("hits_lsh"), lit(0L)).as("hits_lsh"),
            coalesce(col("hits_ivf"), lit(0L)).as("hits_ivf")
          )
          .orderBy(col("qid"))
      },
      Some(s"""WITH t AS ($embSql),
             $annLshSql,
             $annIvfSql,
             bq AS (SELECT vec_id AS qid, e AS qe, n2 AS qn2 FROM t WHERE vec_id < 20),
             bsc AS (SELECT bq.qid, c.vec_id AS cid,
                 round(${cosSql("bq.qe", "c.e", "bq.qn2", "c.n2")}, 6) AS cos
               FROM bq JOIN t c ON bq.qid <> c.vec_id),
             b3 AS (SELECT qid, cid FROM (SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM bsc)
               WHERE rn <= 3),
             hl AS (SELECT b3.qid, count(*) AS hits_lsh FROM b3
               JOIN (SELECT qid, cid FROM lr WHERE rn <= 3) l USING (qid, cid) GROUP BY b3.qid),
             hi AS (SELECT b3.qid, count(*) AS hits_ivf FROM b3
               JOIN (SELECT qid, cid FROM ir WHERE rn <= 3) i USING (qid, cid) GROUP BY b3.qid)
             SELECT b.qid, CAST(3 AS BIGINT) AS k,
               CAST(coalesce(hl.hits_lsh, 0) AS BIGINT) AS hits_lsh,
               CAST(coalesce(hi.hits_ivf, 0) AS BIGINT) AS hits_ivf
             FROM (SELECT DISTINCT qid FROM b3) b
             LEFT JOIN hl USING (qid) LEFT JOIN hi USING (qid)
             ORDER BY qid""")
    ),
    // --------------------------------------------------------------- q132
    // Multi-table (OR-amplified) LSH ANN — the standard remedy for the
    // single-table recall q124 measures: 4 independent 6-bit tables,
    // candidate if colliding in ANY, exact scoring of the candidate
    // union only. Oracle reproduces the same tables from the same
    // literals, so the hash gate is exact; the recall improvement over
    // q61 is asserted in QueriesSpec (measured: 0.02 -> 0.25 recall@3 —
    // the 1-(1-p^b)^L amplification working as the math says, and still
    // far under IVF's 0.87, which remains the recommendation).
    // Scale shape: 4 rows per vector
    // exploded onto (table, bucket) keys — candidate volume is governed
    // by bucket sizes, never all-pairs.
    QueryDef(
      "q132_ann_multitable",
      (s, dir) => annMulti(s, dir).orderBy(col("qid"), col("rn")),
      Some(s"""WITH t AS ($embSql),
             $annMultiSql
             SELECT qid, cid, cos, rn FROM mr WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // ---------------------------------------------------------------- q57
    // Embedding-cosine near-dup dedup through ANN buckets: candidates are
    // same-label banded sign-projection collisions (bandedCandidates),
    // only candidates pay the exact cosine verify, and the higher-id
    // member of every verified pair is dropped (greedy keep-lowest, same
    // convention as q55). The oracle reproduces the SAME banding, so the
    // hash gate checks the banded operator exactly; recall vs the exact
    // all-pairs baseline (embDropIdsExact) is pinned in QueriesSpec.
    // The 0.45 threshold is tuned to this synthetic corpus (max pair
    // cosine ~0.51); a production near-dup pass runs the same plan at
    // ~0.95+, where band collisions for true pairs are near-certain.
    // Scale: band-key shuffle join for candidates + two vec_id joins for
    // the verify — never all-pairs; this is the 100 TB shape.
    QueryDef(
      "q57_embedding_dedup",
      (s, dir) => {
        val e = emb(s, dir)
        val dups = embDropIds(s, dir)
        e.join(dups, e("vec_id") === dups("id_b"), "left_anti")
          .select(col("vec_id"), col("label"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH t AS ($embSql),
             ${embDropSql("t")}
             SELECT vec_id, label FROM t
             WHERE vec_id NOT IN (SELECT id_b FROM embp) ORDER BY vec_id""")
    ),
    // ---------------------------------------------------------------- q72
    // Scalar int8 quantization of the embedding column — the storage
    // path for a 100 TB vector corpus (4x smaller than float32, 8x than
    // float64; dot products stay integer ops until the final rescale).
    // Per-vector symmetric scale = 127/max|x|; floor(x*scale + 0.5) is
    // used instead of round() so both engines round identically. q_l1 is
    // an exact integer invariant of the quantized vector; mae is the
    // reconstruction error after dequantization.
    QueryDef(
      "q72_embedding_quantize",
      (s, dir) =>
        Engine
          .table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("mx", expr("array_max(transform(e, x -> abs(x)))"))
          .filter(col("mx") > 0)
          .withColumn("scale", lit(127.0) / col("mx"))
          .withColumn("q", expr("transform(e, x -> cast(floor(x * scale + 0.5d) as bigint))"))
          .select(
            col("vec_id"),
            expr("aggregate(q, 0L, (a, v) -> a + abs(v))").as("q_l1"),
            round(
              expr(
                "aggregate(sequence(1, size(e)), 0d, (a, i) -> a + abs(element_at(e, i) - element_at(q, i) / scale))"
              ) / size(col("e")),
              6
            ).as("mae")
          )
          .orderBy(col("vec_id")),
      Some("""WITH t AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
             m AS (SELECT vec_id, e, 127.0 / list_max(list_transform(e, x -> abs(x))) AS scale
               FROM t WHERE list_max(list_transform(e, x -> abs(x))) > 0),
             q AS (SELECT vec_id, scale, e,
               list_transform(e, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv FROM m)
             SELECT vec_id,
               CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
               round(list_sum(list_transform(generate_series(1, len(e)),
                 i -> abs(e[i] - qv[i] / scale))) / len(e), 6) AS mae
             FROM q ORDER BY vec_id""")
    ),
    // --------------------------------------------------------------- q145
    // Product quantization (PQ) — the memory path that makes
    // billion-vector ANN fit RAM: the 64-dim vector splits into 8
    // subvectors of 8 dims; each subvector is assigned the nearest of 16
    // codebook entries (here: the 16 lowest-vec_id vectors — a fixed,
    // engine-recomputable codebook standing in for trained centroids),
    // so a vector stores as 8 half-byte codes: 64 float32s -> 4 bytes,
    // 64x compression. All arithmetic happens in integer micro-units
    // (floor(x*1e6 + 0.5), the q72 rounding) so distances, argmins, and
    // the reconstruction error are engine-exact integers — no float
    // accumulation anywhere. Scale shape: the codebook (16 rows)
    // broadcasts; assignment is a narrow map per vector; one hash-agg
    // reassembles codes. Exactly IVF-PQ's compression stage.
    QueryDef(
      "q145_pq_codes",
      (s, dir) => {
        val iv = Engine
          .table(s, dir, "embeddings")
          .select(
            col("vec_id"),
            expr("transform(cast(embedding as array<double>), " +
              "x -> cast(floor(x * 1000000 + 0.5d) as bigint))").as("iv")
          )
        val codes = iv
          .orderBy(col("vec_id"))
          .limit(16)
          .select(col("vec_id").as("code_vec"), col("iv").as("cv"))
          .withColumn(
            "code_id",
            (row_number().over(Window.orderBy(col("code_vec"))) - 1).cast("long")
          )
          .select(col("code_id"), col("cv"))
        val assigned = iv
          .crossJoin(broadcast(codes))
          .select(
            col("vec_id"),
            col("code_id"),
            // per-subspace distance via the codegen'd graft_l2sq over
            // 8-element slices (same Long arithmetic as the interpreted
            // aggregate() it replaced; the slice alloc is 8 longs — the
            // inner loop is native, which is what dominates at
            // (vectors x 16 codes x 8 subspaces) volume)
            explode(expr(
              "transform(sequence(0, 7), s -> named_struct('sub', s, 'dist', " +
                "graft_l2sq(slice(iv, s*8+1, 8), slice(cv, s*8+1, 8))))"
            )).as("sd")
          )
          .select(col("vec_id"), col("code_id"), col("sd.sub").as("sub"), col("sd.dist").as("dist"))
          .groupBy(col("vec_id"), col("sub"))
          .agg(min(struct(col("dist"), col("code_id"))).as("best"))
          .select(
            col("vec_id"), col("sub"),
            col("best.code_id").as("code"), col("best.dist").as("dist")
          )
        assigned
          .groupBy(col("vec_id"))
          .agg(
            concat_ws(",", expr(
              "transform(array_sort(collect_list(struct(sub, code))), p -> cast(p.code as string))"
            )).as("pq_codes"),
            sum(col("dist")).as("err_sq")
          )
          .orderBy(col("vec_id"))
      },
      Some("""WITH t AS (
               SELECT vec_id, list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS iv
               FROM embeddings),
             c AS (
               SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, iv AS cv
               FROM t ORDER BY vec_id LIMIT 16),
             d AS (
               SELECT t.vec_id, c.code_id, ss.s AS sub,
                 list_sum(list_transform(generate_series(1, 8),
                   j -> (t.iv[ss.s*8 + j] - c.cv[ss.s*8 + j])
                      * (t.iv[ss.s*8 + j] - c.cv[ss.s*8 + j]))) AS dist
               FROM t CROSS JOIN c
               CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) ss),
             b AS (
               SELECT vec_id, sub, code_id, dist,
                 row_number() OVER (PARTITION BY vec_id, sub
                   ORDER BY dist, code_id) AS rk
               FROM d)
             SELECT vec_id,
               string_agg(CAST(code_id AS VARCHAR), ',' ORDER BY sub) AS pq_codes,
               CAST(sum(dist) AS BIGINT) AS err_sq
             FROM b WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id""")
    ),
    // --------------------------------------------------------------- q147
    // Distributed k-means, 2 Lloyd rounds, k = max(16, ceil(n/256))
    // clusters (k SCALES with the corpus so cluster population stays
    // ~256 — see kmeansK) — the clustering stage of SemDeDup-style
    // semantic dedup and the trained-codebook counterpart to q145's
    // fixed one. Every step is ENGINE-EXACT
    // integer arithmetic: vectors land in micro-units with a +2^24
    // offset so all values are non-negative — offsets cancel in the
    // (a-b)^2 distances, and on non-negative sums Spark's `div`
    // (truncate) and DuckDB's `//` (floor) agree, so the centroid
    // update sum(v) div n is bit-identical cross-engine (signed sums
    // would floor vs truncate differently). Deterministic init = the k
    // lowest vec_ids; argmin ties break on cluster id; empty clusters
    // keep their previous centroid. Scale shape: centroids broadcast
    // (k rows); assignment is a narrow map over vectors; each update
    // is ONE shuffle keyed (cluster, dim) with k*64 groups; 2 rounds =
    // 2 such shuffles — the canonical distributed Lloyd.
    QueryDef(
      "q147_kmeans",
      (s, dir) =>
        kmeansAssign(s, dir)
          .select(col("vec_id"), col("cid").as("cluster"), col("d").as("dist_sq"))
          .orderBy(col("vec_id")),
      Some(s"""$kmeansSql
             SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
               CAST(dist AS BIGINT) AS dist_sq
             FROM a2 WHERE rk = 1 ORDER BY vec_id""")
    ),
    // --------------------------------------------------------------- q148
    // SemDeDup, literally: k-means the embedding space (q147's exact
    // Lloyd rounds), then compare ONLY within-cluster pairs by cosine
    // and drop the higher vec_id of every pair clearing the near-dup
    // threshold (0.45 on this synthetic corpus, the engine-wide tuned
    // value from embDropIds). Survivors emitted with their cluster.
    // This is the third ANN-bucketing route to embedding dedup in the
    // engine (LSH bands q57, banded multi-table q132, clusters here) —
    // k scales with n (kmeansK) so cluster population stays ~256 and
    // total pair work is O(256·n), LINEAR in corpus size, and clusters
    // come from the data rather than random planes, which is why
    // SemDeDup catches semantic dups random planes split.
    QueryDef(
      "q148_semdedup",
      (s, dir) => {
        // both the pair self-join sides AND the final survivors read the
        // assignment — materialize it once (without the barrier each
        // consumer re-runs the full two-round Lloyd DAG: 3 recomputes,
        // measured 24x the sf0.1 cost at sf1 before this checkpoint)
        val asg = kmeansAssign(s, dir).select(col("vec_id"), col("cid"))
          .localCheckpoint(eager = false)
        val e = emb(s, dir).select(col("vec_id"), col("e"), col("n2"))
        val m = asg.join(e, "vec_id").localCheckpoint(eager = false)
        val drops = m.as("a")
          .join(m.as("b"), col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
          .filter(
            round(cosCol(col("a.e"), col("b.e"), col("a.n2"), col("b.n2")), 6) >= 0.45
          )
          .select(col("b.vec_id").as("vec_id"))
          .distinct()
        asg
          .join(drops, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("cid").as("cluster"))
          .orderBy(col("vec_id"))
      },
      Some(s"""$kmeansSql,
             asg AS (SELECT vec_id, cid FROM a2 WHERE rk = 1),
             emb0 AS ($embSql),
             m AS (SELECT asg.vec_id, asg.cid, emb0.e, emb0.n2
                   FROM asg JOIN emb0 ON asg.vec_id = emb0.vec_id),
             drops AS (
               SELECT DISTINCT b.vec_id
               FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
               WHERE round(${cosSql("a.e", "b.e", "a.n2", "b.n2")}, 6) >= 0.45)
             SELECT vec_id, CAST(cid AS BIGINT) AS cluster
             FROM asg WHERE vec_id NOT IN (SELECT vec_id FROM drops)
             ORDER BY vec_id""")
    ),
    // --------------------------------------------------------------- q159
    // SSL-prototype pruning — the OTHER half of the public D4 recipe
    // (SemDeDup removes semantic near-dups, prototype pruning then
    // drops the most PROTOTYPICAL examples: points closest to their
    // cluster centroid carry the least marginal information, so the
    // closest ceil(10%) per cluster are marked 'proto' and the rest
    // 'keep'). Runs on q147's exact-integer assignment, so the
    // prototypicality metric (squared L2 to the final centroid) is
    // engine-exact; ranking ties break on vec_id. Scale shape: the
    // per-cluster window is bounded BY CONSTRUCTION — kmeansK keeps
    // cluster population ~256 as n grows — so no partition ever holds
    // more than ~256 rows regardless of corpus size (the bounded
    // analog of the q153 stratum problem, safe here precisely because
    // the key cardinality scales with n).
    QueryDef(
      "q159_proto_prune",
      (s, dir) => {
        val wC = Window.partitionBy(col("cid")).orderBy(col("d"), col("vec_id"))
        val wN = Window.partitionBy(col("cid"))
        kmeansAssign(s, dir)
          .withColumn("rn", row_number().over(wC).cast("long"))
          .withColumn("n", count(lit(1)).over(wN))
          .select(
            col("vec_id"),
            col("cid").as("cluster"),
            col("d").as("dist_sq"),
            when(col("rn") <= expr("(n + 9) div 10"), lit("proto")).otherwise(lit("keep"))
              .as("verdict")
          )
          .orderBy(col("vec_id"))
      },
      Some(s"""$kmeansSql,
             asg AS (SELECT vec_id, cid, dist FROM a2 WHERE rk = 1)
             SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
               CAST(dist AS BIGINT) AS dist_sq,
               CASE WHEN row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id)
                      <= (count(*) OVER (PARTITION BY cid) + 9) // 10
                    THEN 'proto' ELSE 'keep' END AS verdict
             FROM asg ORDER BY vec_id""")
    ),
    // ---------------------------------------------------------------- q62
    // Per-label centroid norm + dispersion: elementwise mean via
    // posexplode -> group by (label, pos) -> re-assemble.
    QueryDef(
      "q62_label_centroids",
      (s, dir) => {
        val e = emb(s, dir)
        e.select(col("label"), posexplode(col("e")).as(Seq("pos", "v")))
          .groupBy(col("label"), col("pos"))
          .agg(avg(col("v")).as("m"))
          .groupBy(col("label"))
          .agg(round(sqrt(sum(col("m") * col("m"))), 6).as("centroid_norm"))
          .orderBy(col("label"))
      },
      Some("""WITH t AS (SELECT label, unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v,
               unnest(generate_series(0, len(embedding) - 1)) AS pos
             FROM embeddings),
             m AS (SELECT label, pos, avg(v) AS m FROM t GROUP BY label, pos)
             SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm
             FROM m GROUP BY label ORDER BY label""")
    ),
    // --------------------------------------------------------------- q166
    // Image–text alignment filter — the LAION/DataComp curation step
    // the corpus was missing a cross-modal operator for: score each
    // (image embedding, caption) pair by cosine between the stored
    // vector (embeddings.vec_id = documents.doc_id) and a 64-dim
    // hashed bag-of-words caption vector (token -> md5 bucket % 64,
    // weight = count — the classic hashing-trick featurizer), and
    // verdict pairs below the threshold as 'rejected'. Cross-engine
    // exactness: each dot term is rounded to integer micro-units PER
    // (bucket, element) pair before the sum (order-free int64 adds —
    // the q160 pattern), the embedding norm likewise per element, and
    // the final cosine is one per-row scalar (div + sqrt + round over
    // identical integers: correctly-rounded IEEE ops, bit-identical in
    // both engines). Scale shape: the caption featurizer is one
    // map-side-combinable hash-agg of the token stream; the dot product
    // joins (doc_id, bucket) feature rows to posexploded embedding
    // elements on the composite key — both sides huge at 100 TB, hash
    // co-partitioned, never a broadcast of the corpus; the norm is a
    // narrow per-row HOF on the embeddings scan. No windows, no UDFs.
    QueryDef(
      "q166_caption_align",
      (s, dir) => {
        val feats = Engine
          .table(s, dir, "documents")
          .repartition(col("doc_id"))
          .select(col("doc_id"), explode(Tokenize.toksExpr).as("tok"))
          .withColumn("b", expr("cast(conv(substr(md5(tok), 1, 4), 16, 10) as bigint) % 64"))
          .groupBy(col("doc_id"), col("b"))
          .agg(count(lit(1)).as("cnt"))
        val e = Engine
          .table(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val embEl = e.select(
          col("doc_id"),
          posexplode(col("embedding")).as(Seq("b", "ef"))
        ).select(col("doc_id"), col("b").cast("long").as("b"), col("ef").cast("double").as("ev"))
        val dots = feats
          .join(embEl, Seq("doc_id", "b"))
          .withColumn("term", expr("cast(round(cnt * ev * 1000000d) as bigint)"))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("cnt")).as("n_toks"),
            sum(col("term")).as("dot_micro"),
            sum(col("cnt") * col("cnt")).as("nc")
          )
        val nes = e.select(
          col("doc_id"),
          expr("""aggregate(embedding, 0L,
                 (a, x) -> a + cast(round(cast(x as double) * cast(x as double) * 1000000d) as bigint))""")
            .as("ne_micro")
        )
        dots
          .join(nes, "doc_id")
          .withColumn(
            "cos_milli",
            // greatest(.., 1e-9) guards a zero-norm embedding (ne_micro=0):
            // without it Spark's 0/0.0 is NaN -> cast 0 ('aligned') while
            // DuckDB yields NULL — a cross-engine gate divergence.
            expr("cast(round(dot_micro / greatest(sqrt(cast(nc as double) * cast(ne_micro as double)), 1e-9d)) as bigint)")
          )
          .withColumn(
            "verdict",
            when(col("cos_milli") >= 0L, lit("aligned")).otherwise(lit("rejected"))
          )
          .select(col("doc_id"), col("n_toks"), col("dot_micro"), col("cos_milli"), col("verdict"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, ${Tokenize.toksSql} AS toks FROM documents),
             tk AS (SELECT doc_id, unnest(toks) AS tok FROM t),
             b0 AS (SELECT doc_id,
                 CAST(list_sum(list_transform(generate_series(1, 4),
                   k -> (strpos('0123456789abcdef', substr(md5(tok), k, 1)) - 1)
                        * power(16, 4 - k))) AS BIGINT) % 64 AS b
               FROM tk),
             f AS (SELECT doc_id, b, count(*) AS cnt FROM b0 GROUP BY 1, 2),
             e AS (SELECT vec_id AS doc_id, embedding FROM embeddings),
             el AS (SELECT doc_id,
                 CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS b,
                 CAST(unnest(embedding) AS DOUBLE) AS ev
               FROM e),
             d AS (SELECT f.doc_id AS doc_id,
                 CAST(sum(f.cnt) AS BIGINT) AS n_toks,
                 CAST(sum(CAST(round(f.cnt * el.ev * 1000000) AS BIGINT)) AS BIGINT) AS dot_micro,
                 CAST(sum(f.cnt * f.cnt) AS BIGINT) AS nc
               FROM f JOIN el ON f.doc_id = el.doc_id AND f.b = el.b
               GROUP BY 1),
             ne AS (SELECT doc_id, CAST(list_sum(list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
                 AS BIGINT) AS ne_micro FROM e)
             SELECT d.doc_id AS doc_id, n_toks, dot_micro,
               CAST(round(dot_micro / greatest(sqrt(CAST(nc AS DOUBLE) * CAST(ne_micro AS DOUBLE)), 1e-9)) AS BIGINT)
                 AS cos_milli,
               CASE WHEN CAST(round(dot_micro / greatest(sqrt(CAST(nc AS DOUBLE) * CAST(ne_micro AS DOUBLE)), 1e-9))
                     AS BIGINT) >= 0 THEN 'aligned' ELSE 'rejected' END AS verdict
             FROM d JOIN ne ON d.doc_id = ne.doc_id ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q168
    // Cluster-balanced selection — the diversity-resampling step the
    // D4/DCLM recipes run after semantic clustering: within each
    // k-means cluster keep a quota of ceil(sqrt(n_c)) members in
    // deterministic hash order, so over-represented semantic regions
    // (big clusters) are down-sampled relative to rare ones (sqrt
    // concavity: a 100x bigger cluster contributes only 10x the
    // members). Completes the q147 -> q148 -> q159 semantic family:
    // q148 drops near-dups inside clusters, q159 drops prototypes,
    // q168 rebalances what remains. Scale shape: quotas are a k-row
    // broadcast; the per-cluster rank window is bounded ~256 BY
    // CONSTRUCTION (kmeansK grows with n), the q159 argument.
    QueryDef(
      "q168_cluster_balance",
      (s, dir) => {
        val asg = kmeansAssign(s, dir).select(col("vec_id"), col("cid"))
        val quota = asg
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n"))
          .withColumn("quota", expr("cast(ceil(sqrt(cast(n as double))) as bigint)"))
        val wC = Window
          .partitionBy(col("cid"))
          .orderBy(md5(concat(lit("cb|"), col("vec_id").cast("string"))), col("vec_id"))
        asg
          .withColumn("rnk", row_number().over(wC).cast("long"))
          .join(broadcast(quota), "cid")
          .withColumn(
            "pick",
            when(col("rnk") <= col("quota"), lit("sampled")).otherwise(lit("rest"))
          )
          .select(
            col("vec_id"), col("cid").cast("long").as("cluster"),
            col("n"), col("quota"), col("rnk"), col("pick"))
          .orderBy(col("vec_id"))
      },
      Some(s"""$kmeansSql,
             asg AS (SELECT vec_id, cid FROM a2 WHERE rk = 1),
             qn AS (SELECT cid, count(*) AS n,
                 CAST(ceil(sqrt(count(*))) AS BIGINT) AS quota
               FROM asg GROUP BY cid),
             r AS (SELECT asg.vec_id, asg.cid, qn.n, qn.quota,
                 CAST(row_number() OVER (PARTITION BY asg.cid
                     ORDER BY md5('cb|' || CAST(asg.vec_id AS VARCHAR)), asg.vec_id)
                   AS BIGINT) AS rnk
               FROM asg JOIN qn ON asg.cid = qn.cid)
             SELECT vec_id, CAST(cid AS BIGINT) AS cluster, n, quota, rnk,
               CASE WHEN rnk <= quota THEN 'sampled' ELSE 'rest' END AS pick
             FROM r ORDER BY vec_id""")
    ),
    // --------------------------------------------------------------- q186
    // Contrastive HARD-NEGATIVE mining — the embedding-model training
    // step (SimCSE/DPR/E5 recipes mine, for each anchor, the most
    // similar vector with a DIFFERENT label as its hardest negative):
    // anchors = ONE training batch, a FIXED-size set (the 32 lowest
    // qualifying vec_ids — deterministic TakeOrdered, mirrored by the
    // oracle's ORDER BY vec_id LIMIT 32), so the broadcast side is
    // CORPUS-INDEPENDENT and the scan is O(corpus x batch) — never
    // quadratic, never an anchor set that grows with the data (the
    // round-8 form's `% 20` alone did exactly that; the LIMIT makes
    // the gated query the production shape). Broadcast
    // against ONE partitioned corpus scan; per-anchor argmax via a
    // hash AGGREGATE min(struct(-cos, id)) with map-side partial
    // combine — deliberately NOT a window partitioned by anchor, which
    // would sort corpus-sized candidate lists per anchor task at
    // 100 TB. Cosine quantized to 6 decimals (the module's standing
    // determinism rule) so FP last-bit noise cannot flip the argmax;
    // ties break to the lowest vec_id identically in both engines.
    QueryDef(
      "q186_hard_negatives",
      (s, dir) => {
        // degenerate-vector guard: a zero-norm (or NaN-component)
        // embedding has no direction — its cosine is NaN, which Spark's
        // min-struct argmax would rank LAST while DuckDB's ORDER BY DESC
        // ranks FIRST (a cross-engine flip). Excluded from both roles,
        // identically in the oracle.
        val all = emb(s, dir).filter(col("n2") > 0 && !isnan(col("n2")))
        val anchors = all
          .filter(col("vec_id") % 20 === 0)
          .orderBy(col("vec_id"))
          .limit(32)
          .select(
            col("vec_id").as("aid"), col("label").as("albl"),
            col("e").as("ae"), col("n2").as("an2"))
        all
          .join(broadcast(anchors), col("label") =!= col("albl"))
          .withColumn("c6", round(cosCol(col("ae"), col("e"), col("an2"), col("n2")), 6))
          .select(col("aid"), col("vec_id").as("neg_id"), col("c6"))
          .groupBy(col("aid"))
          .agg(min(struct((-col("c6")).as("s"), col("neg_id"), col("c6"))).as("m"))
          .select(col("aid"), col("m.neg_id").as("neg_id"), col("m.c6").as("c6"))
          .orderBy(col("aid"))
      },
      Some(s"""WITH t0 AS ($embSql),
             t AS (SELECT * FROM t0 WHERE n2 > 0 AND NOT isnan(n2)),
             a AS (SELECT vec_id AS aid, label AS albl, e AS ae, n2 AS an2
               FROM t WHERE vec_id % 20 = 0 ORDER BY vec_id LIMIT 32),
             p AS (SELECT aid, t.vec_id AS neg_id,
                 round(${cosSql("ae", "e", "an2", "n2")}, 6) AS c6
               FROM a JOIN t ON t.label <> a.albl)
             SELECT aid, neg_id, c6 FROM p
             QUALIFY row_number() OVER (PARTITION BY aid ORDER BY c6 DESC, neg_id) = 1
             ORDER BY aid""")
    ),
    // --------------------------------------------------------------- q202
    // PRODUCT QUANTIZATION with TRAINED codebooks (Jegou et al., TPAMI
    // 2011) — the upgrade of q145, which encodes against a fixed
    // stand-in codebook (the 16 lowest vectors, whole-vector entries
    // reused per subspace) and stops at the codes. Here the codebook is
    // learned per subspace and the pair q202+q203 is the complete PQ
    // system: train -> encode -> ADC search -> measured recall. The
    // 64-dim embedding splits into M=8 contiguous 8-dim subspaces;
    // each subspace trains its own K=16 codebook (the q147
    // exact-integer Lloyd recipe: micro-unit integer vectors, init =
    // the 16 lowest vec_ids' subvectors, one refinement round, argmin
    // ties to the lower cid, empty cells keep their seed); a vector's
    // code is its 8 nearest-cell ids packed 4 bits each into ONE
    // BIGINT — 4 bytes per vector vs 256 for float32 x 64, the 64x
    // compression that lets a 100 TB corpus's index live in RAM.
    // qerr (summed subspace L2) is the distortion audit. Scale shape:
    // training + encoding are (n x M x K) narrow integer kernel evals
    // against a BROADCAST 128-row codebook — map-side everywhere; the
    // only shuffles are the tiny (m, cid, pos) mean aggregations.
    QueryDef(
      "q202_pq_encode",
      (s, dir) => {
        val a2 = pqAssign(s, dir, pqCodebook(s, dir))
        a2.groupBy(col("vec_id"))
          .agg(
            expr("CAST(sum(cid * shiftleft(CAST(1 AS BIGINT), 4 * m)) AS BIGINT)").as("code"),
            sum(col("d")).as("qerr"))
          .orderBy(col("vec_id"))
      },
      Some(s"""$pqSql
             SELECT vec_id,
               CAST(sum(cid * (CAST(1 AS BIGINT) << (4 * m))) AS BIGINT) AS code,
               CAST(sum(dist) AS BIGINT) AS qerr
             FROM pa2 WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id""")
    ),
    // --------------------------------------------------------------- q203
    // PQ ASYMMETRIC-DISTANCE search with recall@3 — the query half PQ
    // was missing (q145/q202 stop at codes) and the third entry in the engine's measured ANN recall
    // ledger — sf0.01: PQ-ADC 15/60 vs IVF 52/60 and LSH 2/60 (q124).
    // The 0.25 recall is what 64x lossy compression with K=16
    // one-round codebooks buys on ISOTROPIC vectors (no cluster
    // structure for the cells to exploit); production raises K to 256
    // and quantizes IVF residuals (IVFADC) — the mechanism gated here
    // is exactly that system's scoring path. Each query (the fixed
    // vec_id < 20 batch, the q124 convention) precomputes an M x K
    // lookup table of exact subspace distances to every codebook cell,
    // then a candidate's ADC distance is EIGHT TABLE LOOKUPS summed —
    // never a 64-dim computation per candidate. Recall@3 counts ADC's
    // top-3 against exact integer-L2 brute force. Scale shape: the
    // lookup table is (queries x 128) rows broadcast; the scan of the
    // code table is a narrow join + 20-partition-bounded top-k over a
    // FIXED query batch (the q186 rule: batch size never grows with
    // the corpus). At 100 TB this composes with q63: IVF-partition
    // first, ADC within the probed lists — the IVFADC system shape.
    QueryDef(
      "q203_pq_adc_recall",
      (s, dir) => {
        val iv = ivecs(s, dir)
        val cb = pqCodebook(s, dir).localCheckpoint(eager = false)
        val a2 = pqAssign(s, dir, cb)
        val q = iv.filter(col("vec_id") < 20).select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val qsubs = q
          .select(
            col("qid"),
            explode(expr("transform(sequence(0, 7), " +
              "m -> named_struct('m', m, 'qsv', slice(qiv, m * 8 + 1, 8)))")).as("x"))
          .select(col("qid"), col("x.m").as("m"), col("x.qsv").as("qsv"))
        val pdt = qsubs
          .join(broadcast(cb), Seq("m"))
          .select(
            col("qid"), col("m"), col("cid"),
            graft.functions.VectorOps.l2sqLong(col("qsv"), col("cv")).as("pd"))
        val adc = a2
          .join(broadcast(pdt), Seq("m", "cid"))
          .filter(col("qid") =!= col("vec_id"))
          .groupBy(col("qid"), col("vec_id"))
          .agg(sum(col("pd")).as("ad"))
        val wA = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
        val adc3 = adc
          .withColumn("rn", row_number().over(wA))
          .filter(col("rn") <= 3)
          .select(col("qid"), col("vec_id"))
        val brute3 = bruteTop3(q, iv)
        val hits = brute3
          .join(adc3, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("hits_pq"))
        brute3
          .select(col("qid"))
          .distinct()
          .join(hits, Seq("qid"), "left")
          .select(col("qid"), lit(3L).as("k"), coalesce(col("hits_pq"), lit(0L)).as("hits_pq"))
          .orderBy(col("qid"))
      },
      Some(s"""$pqSql,
             pqq AS (SELECT vec_id AS qid, iv FROM t WHERE vec_id < 20),
             pqs AS (SELECT qid, mm.m, list_slice(iv, mm.m * 8 + 1, mm.m * 8 + 8) AS qsv
               FROM pqq, (SELECT unnest(generate_series(0, 7)) AS m) mm),
             pdt AS (SELECT q.qid, q.m, c.cid,
                 list_sum(list_transform(generate_series(1, len(q.qsv)),
                   j -> (q.qsv[j] - c.cv[j]) * (q.qsv[j] - c.cv[j]))) AS pd
               FROM pqs q JOIN pc1 c ON q.m = c.m),
             adc AS (SELECT p.qid, a.vec_id, CAST(sum(p.pd) AS BIGINT) AS ad
               FROM pa2 a JOIN pdt p ON a.m = p.m AND a.cid = p.cid
               WHERE a.rk = 1 AND p.qid <> a.vec_id GROUP BY p.qid, a.vec_id),
             adc3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn FROM adc)
               WHERE rn <= 3),
             bsc AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.iv)),
                   j -> (q.iv[j] - x.iv[j]) * (q.iv[j] - x.iv[j]))) AS d
               FROM pqq q JOIN t x ON q.qid <> x.vec_id),
             pb3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM bsc)
               WHERE rn <= 3),
             ph AS (SELECT pb3.qid, count(*) AS hits_pq FROM pb3
               JOIN adc3 USING (qid, vec_id) GROUP BY pb3.qid)
             SELECT b.qid, CAST(3 AS BIGINT) AS k,
               CAST(coalesce(ph.hits_pq, 0) AS BIGINT) AS hits_pq
             FROM (SELECT DISTINCT qid FROM pb3) b
             LEFT JOIN ph USING (qid) ORDER BY qid""")
    ),
    // --------------------------------------------------------------- q204
    // IVFADC — the COMPOSED system q63 + q202/q203 point at (Jegou et
    // al.'s billion-vector architecture, the design FAISS ships as
    // IndexIVFPQ): a coarse 16-cell integer-L2 quantizer partitions the
    // corpus into inverted lists; PQ codebooks train on the RESIDUALS
    // (vector minus its coarse centroid — far tighter spread than raw
    // vectors, so the same 4-byte budget quantizes much finer); a query
    // probes its 2 nearest lists, computes a PER-PROBE residual lookup
    // table, and scores only the probed lists' members by 8 table
    // lookups each. Recall@3 vs exact integer-L2 brute force completes
    // the measured ANN ledger — sf0.01: 15/60, decomposing as a 52/60
    // probe ceiling (true neighbors inside the 2 probed lists — the
    // same 52 q124 measures for exact-scoring IVF) x a 15/52
    // quantization conversion. Against plain ADC (q203, also 15/60 but
    // over the FULL corpus), IVFADC holds recall while scoring only
    // ~2/16 of the candidates — the 8x scan cut is free, which is the
    // system's whole sales pitch; the conversion rate, not the probes,
    // is the binding constraint at 4-bit codes (production: K=256 +
    // more Lloyd rounds). Engine-exactness trap
    // closed here: residuals are NEGATIVE, and Spark's `div` truncates
    // toward zero where DuckDB's `//` floors — so residuals carry the
    // +2^24 offset (cancels in every distance; means stay non-negative
    // and floor-divide identically). Residual-codebook seeds are
    // vec_ids 16..31: the 16 coarse cells ARE vectors 0..15, whose own
    // residuals are exactly zero — seeding from them would collapse the
    // codebook to one cell. Scale shape: everything joins against
    // broadcast 16/128/5120-row tables; the corpus-side work is one
    // coarse argmin + one residual map + the probed-list join — each
    // query touches ~2/16 of the corpus, the IVF economics.
    QueryDef(
      "q204_ivfadc_recall",
      (s, dir) => {
        val iv = ivecs(s, dir)
        val (cc, ca, c1, a2) = ivfadcTrain(s, dir, k = 16, rounds = 1)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val adc3 = ivfadcProbe(q, cc, c1, a2.join(ca, "vec_id"))
          .select(col("qid"), col("vec_id"))
        val brute3 = bruteTop3(q, iv)
        val hits = brute3
          .join(adc3, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("hits_ivfadc"))
        brute3
          .select(col("qid"))
          .distinct()
          .join(hits, Seq("qid"), "left")
          .select(
            col("qid"), lit(3L).as("k"),
            coalesce(col("hits_ivfadc"), lit(0L)).as("hits_ivfadc"))
          .orderBy(col("qid"))
      },
      Some(s"""${ivfadcSql(16, 1)},
             wad3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn FROM wadc)
               WHERE rn <= 3),
             wbs AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             wb3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM wbs)
               WHERE rn <= 3),
             wh AS (SELECT wb3.qid, count(*) AS hits_ivfadc FROM wb3
               JOIN wad3 USING (qid, vec_id) GROUP BY wb3.qid)
             SELECT b.qid, CAST(3 AS BIGINT) AS k,
               CAST(coalesce(wh.hits_ivfadc, 0) AS BIGINT) AS hits_ivfadc
             FROM (SELECT DISTINCT qid FROM wb3) b
             LEFT JOIN wh USING (qid) ORDER BY qid""")
    ),
    // --------------------------------------------------------------- q206
    // PERSISTED IVFADC INDEX — build once, probe many (the round-10
    // verdict's #1 production-shape gap: q202/q203/q204 retrain their
    // codebooks inside every query, where a real vector store trains
    // once and serves probes from the artifact — the q136/q195
    // build->probe split applied to the ANN family). The builder
    // persists the complete q204 system as three artifacts under a
    // COMPLETE-marker-committed directory: the 16-row coarse
    // quantizer and 128-row residual codebook as plain parquet
    // (quantizers are immutable once frozen), and the codes table as a
    // base-only TIERED INDEX — one row per corpus vector holding its
    // coarse list id and its residual PQ code PACKED 4 bits x 8
    // subspaces into one BIGINT (4 bytes/vector, the artifact a 100 TB
    // corpus serves from RAM), range-clustered on ccid (the codes
    // table IS the inverted lists), and — being a TieredIndex,
    // not a static dir — the SAME built index accepts q210's
    // exactly-once streaming appends without a rebuild: one storage
    // engine serves both lifecycles. The PROBE (ivfadcProbeIndex)
    // restricts the packed codes to the probed lists with a LITERAL
    // pushed ccid predicate — the round-12 fix: the restriction
    // reaches the Parquet scan itself (PlanShapeSpec pins the pushed
    // filter), so the ccid-clustered files row-group-prune to ~nprobe/
    // 16 of the artifact BEFORE the x8 unpack-explode, instead of the
    // old post-explode BroadcastHashJoin condition that scanned
    // everything — then unpacks with integer div/mod (non-negative, so
    // Spark div == DuckDB //) and answers the fixed query batch —
    // per-query M x K lookup
    // table, candidates scored by 8 table lookups, top-3 by ADC
    // distance with deterministic (ad, vec_id) tiebreaks. Output is
    // the SEARCH RESULT itself (qid, rn, vec_id, ad) — a stronger pin
    // than a recall count (positioned neighbors + exact integer
    // distances cannot hide compensating errors). The oracle replays
    // train+probe in one plan: the gate therefore proves
    // write -> read -> unpack -> probe loses NOTHING vs training
    // inline. Scale/perf shape: the artifact persists per (process,
    // sf-dir), so bench passes after the first measure PROBE-ONLY cost
    // — the lifecycle's whole point (PERF.md quantifies the split).
    QueryDef(
      "q206_ivfadc_probe",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir)
        val q = ivecs(s, dir)
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcProbeIndex(s, idx, q, k = 16).orderBy(col("qid"), col("rn"))
      },
      Some(ivfadcProbeOracleSql)
    ),
    // --------------------------------------------------------------- q207
    // DEEP product quantization — K=256-capable 8-bit codes with TWO
    // exact-integer Lloyd rounds (the round-10 ledger's binding
    // constraint was the 4-bit/one-round codebook's 15/52 quantization
    // conversion; production PQ is 8 bits/cell, Jegou et al.'s K*=256).
    // Same recipe as q202 at (K=16, 1 round), one definition site
    // (pqCodebookDeep): seeds = the K lowest vec_ids' subvectors (K
    // adapts as min(256, n) by construction — the filter, not a
    // require), means floor-divide on non-negative micro-units, empty
    // cells keep their PREVIOUS round's value, argmin ties to the
    // lower cid. The code is 8 cells x 8 bits spelled as a 16-char hex
    // string in subspace order (%02x per cell — the K=256-capable
    // packing; 4-bit arithmetic packing cannot hold cid 255 x 8 slots
    // in a signed BIGINT without sign traps, and hex spelling is
    // byte-identical across engines). qerr (summed subspace L2) is the
    // distortion audit: vs q202's 4-bit codebook it must drop — the
    // "64x compression, finer cells" trade made visible in one gated
    // number. Scale shape: identical to q202 — narrow kernel evals
    // against a broadcast (now 2048-row) codebook, map-side everywhere.
    QueryDef(
      "q207_pq_deep_encode",
      (s, dir) => {
        val cb = pqCodebookDeep(s, dir, k = 256, rounds = 2)
        pqAssign(s, dir, cb)
          .groupBy(col("vec_id"))
          .agg(
            expr("concat_ws('', transform(array_sort(collect_list(struct(m, cid))), " +
              "p -> format_string('%02x', p.cid)))").as("code_hex"),
            sum(col("d")).as("qerr"))
          .orderBy(col("vec_id"))
      },
      Some(s"""${pqDeepSql(256, 2)}
             SELECT vec_id,
               string_agg(printf('%02x', cid), '' ORDER BY m) AS code_hex,
               CAST(sum(dist) AS BIGINT) AS qerr
             FROM pfa WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id""")
    ),
    // --------------------------------------------------------------- q208
    // DEEP IVFADC recall — q204's system with the q207-depth residual
    // codebook (K=256-capable seeds, 2 Lloyd rounds): the measured
    // answer to the round-10 ledger's finding that the CONVERSION rate
    // (true neighbors inside the probed lists that ADC actually
    // ranks into the top-3: 15/52 at 4-bit codes), not the probe
    // ceiling (52/60), binds recall. Finer residual cells must lift
    // conversion toward the ceiling at the same 2-probe scan cost —
    // the gated sf0.01 row is the proof (PERF.md records the measured
    // ledger: probe ceiling x conversion per index family). Everything
    // else is q204 verbatim, one definition site for train and probe.
    QueryDef(
      "q208_ivfadc_deep_recall",
      (s, dir) => {
        val iv = ivecs(s, dir)
        val (cc, ca, cb, a2) = ivfadcTrain(s, dir, k = 256, rounds = 2)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val adc3 = ivfadcProbe(q, cc, cb, a2.join(ca, "vec_id"))
          .select(col("qid"), col("vec_id"))
        val brute3 = bruteTop3(q, iv)
        val hits = brute3
          .join(adc3, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("hits_deep"))
        brute3
          .select(col("qid"))
          .distinct()
          .join(hits, Seq("qid"), "left")
          .select(
            col("qid"), lit(3L).as("k"),
            coalesce(col("hits_deep"), lit(0L)).as("hits_deep"))
          .orderBy(col("qid"))
      },
      Some(s"""${ivfadcSql(256, 2)},
             wad3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn FROM wadc)
               WHERE rn <= 3),
             wbs AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             wb3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM wbs)
               WHERE rn <= 3),
             wh AS (SELECT wb3.qid, count(*) AS hits_deep FROM wb3
               JOIN wad3 USING (qid, vec_id) GROUP BY wb3.qid)
             SELECT b.qid, CAST(3 AS BIGINT) AS k,
               CAST(coalesce(wh.hits_deep, 0) AS BIGINT) AS hits_deep
             FROM (SELECT DISTINCT qid FROM wb3) b
             LEFT JOIN wh USING (qid) ORDER BY qid""")
    ),
    // --------------------------------------------------------------- q211
    // IVF PROBE-CEILING ledger on the TRAINED coarse quantizer — the
    // structural recall bound of the whole IVFADC family as a gated
    // integer: per query, how many of the true (brute-force integer-L2)
    // top-3 even LIVE inside the 2 probed trained lists. Every ADC/
    // re-rank number is capped by this; measuring it separates "the
    // index can't see the neighbor" (a probe/partition problem) from
    // "the index mis-ranks the neighbor" (a quantization problem).
    // This query also gates a REFUTATION: the round-11 hypothesis was
    // that raw seed cells capped the ceiling at 52/60 and Lloyd
    // training would lift it — measured, the ceiling does NOT move
    // (52 raw, 49/52/49 at 1/2/3 rounds; on this isotropic corpus true
    // neighbors straddle list boundaries wherever the cells sit).
    // Training is still adopted family-wide for what it measurably
    // does buy: population-mean cells shrink residuals, lifting deep
    // ADC conversion 25/60 -> 31/60 (q208) at the same code budget.
    // Scale shape: one corpus-wide coarse argmin against the broadcast
    // 16-row cells + a 20-query brute side (the fixed labeled recall
    // contract, corpus-linear) — no pair enumeration.
    QueryDef(
      "q211_ivf_probe_ceiling",
      (s, dir) => {
        val iv = ivecs(s, dir)
        val cc = coarseCells(iv, rounds = 2).localCheckpoint(eager = false)
        val ca = coarseAssign(iv, cc)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val wP = Window.partitionBy(col("qid")).orderBy(col("qd"), col("ccid"))
        val probes = q
          .crossJoin(broadcast(cc))
          .withColumn("qd", graft.functions.VectorOps.l2sqLong(col("qiv"), col("ccv")))
          .withColumn("prn", row_number().over(wP))
          .filter(col("prn") <= 2)
          .select(col("qid"), col("ccid"))
        val brute3 = bruteTop3(q, iv)
        val hits = brute3
          .join(ca, "vec_id")
          .join(probes, Seq("qid", "ccid"), "left_semi")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("hits_ceiling"))
        brute3
          .select(col("qid"))
          .distinct()
          .join(hits, Seq("qid"), "left")
          .select(
            col("qid"), lit(3L).as("k"),
            coalesce(col("hits_ceiling"), lit(0L)).as("hits_ceiling"))
          .orderBy(col("qid"))
      },
      Some(s"""${ivfCoarseSql("", 2)},
             wbs AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             wb3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM wbs)
               WHERE rn <= 3),
             wh AS (SELECT b.qid, count(*) AS hits_ceiling FROM wb3 b
               JOIN wca a ON b.vec_id = a.vec_id
               WHERE EXISTS (SELECT 1 FROM wpr p
                 WHERE p.qid = b.qid AND p.ccid = a.ccid)
               GROUP BY b.qid)
             SELECT b.qid, CAST(3 AS BIGINT) AS k,
               CAST(coalesce(wh.hits_ceiling, 0) AS BIGINT) AS hits_ceiling
             FROM (SELECT DISTINCT qid FROM wb3) b
             LEFT JOIN wh USING (qid) ORDER BY qid""")
    ),
    // --------------------------------------------------------------- q212
    // IVFADC + EXACT RE-RANK — production two-stage serving (FAISS's
    // IndexRefine contract): the deep trained index's ADC stage returns
    // its top-16 CANDIDATES per query (lossy quantized-code distances,
    // ~2/16 of the corpus scanned), and a refine stage re-ranks just
    // those 16 by EXACT integer L2 against the original vectors, then
    // emits top-3. Measured recall@3 at sf0.01: ADC-order 31/60 ->
    // re-ranked 51/60 against a 52/60 probe ceiling (q211) — the
    // single biggest recall lever in the family, at a cost of exactly
    // 16 exact distances per query. Scale shape: the candidate set
    // (20 x 16 rows) broadcasts into one corpus scan to fetch original
    // vectors — the refine stage touches only candidate rows, never
    // re-scans lists (PlanShapeSpec pins broadcast-only, no cartesian).
    QueryDef(
      "q212_ivfadc_rerank",
      (s, dir) => {
        val iv = ivecs(s, dir)
        val (cc, ca, cb, a2) = ivfadcTrain(s, dir, k = 256, rounds = 2)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val cand = ivfadcProbe(q, cc, cb, a2.join(ca, "vec_id"), topN = 16)
          .select(col("qid"), col("vec_id"))
        val rr3 = exactRerank(cand, q, iv).select(col("qid"), col("vec_id"))
        val brute3 = bruteTop3(q, iv)
        val hits = brute3
          .join(rr3, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid"))
          .agg(count(lit(1)).as("hits_rerank"))
        brute3
          .select(col("qid"))
          .distinct()
          .join(hits, Seq("qid"), "left")
          .select(
            col("qid"), lit(3L).as("k"),
            coalesce(col("hits_rerank"), lit(0L)).as("hits_rerank"))
          .orderBy(col("qid"))
      },
      Some(s"""${ivfadcSql(256, 2)},
             wad16 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn FROM wadc)
               WHERE rn <= 16),
             wrr AS (SELECT c.qid, c.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wad16 c JOIN wq q ON c.qid = q.qid
               JOIN t x ON c.vec_id = x.vec_id),
             wr3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM wrr)
               WHERE rn <= 3),
             wbs AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             wb3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM wbs)
               WHERE rn <= 3),
             wh AS (SELECT wb3.qid, count(*) AS hits_rerank FROM wb3
               JOIN wr3 USING (qid, vec_id) GROUP BY wb3.qid)
             SELECT b.qid, CAST(3 AS BIGINT) AS k,
               CAST(coalesce(wh.hits_rerank, 0) AS BIGINT) AS hits_rerank
             FROM (SELECT DISTINCT qid FROM wb3) b
             LEFT JOIN wh USING (qid) ORDER BY qid""")
    ),
    // --------------------------------------------------------------- q213
    // PERSISTED DEEP index, probe-only — the production store gets the
    // q206 build-once treatment at q208's depth (round-11 verdict #3:
    // the deep K=256/2-round system — the one a real deployment would
    // serve — retrained inline on every q208 run). buildIvfAdcIndex
    // (256, 2) commits the same three-artifact layout with the codes
    // in the K=256-capable HEX packing (q207's spelling — 4-bit BIGINT
    // arithmetic cannot hold cid 255 x 8 in a signed long) as a
    // base-only TieredIndex; the probe answers the fixed query batch
    // from the artifact alone — per (process, sf-dir) the train cost
    // is paid once and every later call measures pure probe (PERF.md
    // quantifies the split vs q208's inline retrain). Output is the
    // positioned search result (qid, rn, vec_id, ad) — q206's pin,
    // now at production depth; the oracle replays the whole deep
    // train+probe chain in one plan, so the gate proves the hex
    // write -> read -> unpack round-trip loses nothing.
    QueryDef(
      "q213_ivfadc_deep_probe",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val q = ivecs(s, dir)
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcProbeIndex(s, idx, q, k = 256).orderBy(col("qid"), col("rn"))
      },
      Some(s"""${ivfadcSql(256, 2)}
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, ad FROM (
               SELECT qid, vec_id, ad,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wadc) r
             WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // --------------------------------------------------------------- q216
    // The COMPLETE SERVING PATH, end to end from the persisted deep
    // artifact: q213's probe-only read (no training in the query) ->
    // ADC top-16 candidates -> q212's exact integer-L2 re-rank ->
    // positioned top-3 WITH the exact distance. This is what a vector
    // store actually executes per request (FAISS IndexIVFPQ +
    // IndexRefine over a loaded index); q212 gates the recall of the
    // same composition but retrains inline and outputs only the
    // ledger count — here the gate pins the positioned neighbors and
    // exact distances themselves, probe-only. Per (process, sf-dir)
    // the deep artifact is shared with q213 (built once, probed
    // many). Scale shape: artifact-only scans + broadcast joins; the
    // refine fetch is one broadcast of 320 candidate rows into one
    // corpus scan.
    QueryDef(
      "q216_ivfadc_serve",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val iv = ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcServe(s, idx, q, iv, k = 256).orderBy(col("qid"), col("rn"))
      },
      Some(ivfadcServeOracleSql())
    ),
    // --------------------------------------------------------------- q217
    // The nprobe OPERATING CURVE — q187's operating-curve pattern
    // applied to ANN: recall@3 of the persisted deep index at nprobe
    // = 1, 2, 4, 8, per query, in one pass. This is the tuning
    // artifact a production deployment reads to pick its probe count,
    // and the measured curve is the interesting part: 29/31/30/29 at
    // sf0.01 — NON-monotone in nprobe, because under LOSSY ADC order
    // each extra probed list adds quantization-error impostors faster
    // than it adds true neighbors (the candidate POOL grows
    // monotonically — q211's ceiling logic — but the top-3 under
    // approximate distances does not). That is the gated, cross-engine
    // form of the standard argument for two-stage serving: past a
    // small nprobe, re-ranking (q212/q216: 51/60), not more probes,
    // buys recall. One scoring pass at nprobe = 16 (all cells)
    // carries each candidate's probe rank, so every curve point is a
    // FILTER over the same scores — the sweep costs one full-corpus
    // ADC pass (bounded: this is the labeled measurement query; the
    // serving path stays 2-probe), not four. Output (qid, nprobe, k,
    // hits); PqSpec pins the nprobe = 2 row equal to q208's ADC
    // recall — same system through the artifact path.
    QueryDef(
      "q217_ann_nprobe_curve",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val cc = s.read.parquet(s"$idx/coarse")
        val cb = s.read.parquet(s"$idx/codebook")
        val codes = unpackCodesHex(graft.operators.TieredIndex.read(s, s"$idx/codes"))
        val iv = ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        // one all-cells scoring pass; every curve point filters it
        val scores = ivfadcScores(q, cc, cb, codes, nprobe = 16)
          .localCheckpoint(eager = false)
        val brute3 = bruteTop3(q, iv)
          .localCheckpoint(eager = false)
        val wA = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
        val curve = Seq(1, 2, 4, 8).map { np =>
          val top3 = scores
            .filter(col("prn") <= np)
            .withColumn("rn", row_number().over(wA))
            .filter(col("rn") <= 3)
            .select(col("qid"), col("vec_id"))
          val hits = brute3
            .join(top3, Seq("qid", "vec_id"), "left_semi")
            .groupBy(col("qid"))
            .agg(count(lit(1)).as("hits"))
          brute3
            .select(col("qid"))
            .distinct()
            .join(hits, Seq("qid"), "left")
            .select(
              col("qid"), lit(np.toLong).as("nprobe"), lit(3L).as("k"),
              coalesce(col("hits"), lit(0L)).as("hits"))
        }.reduce(_ unionAll _)
        curve.orderBy(col("qid"), col("nprobe"))
      },
      Some {
        val perNp = Seq(1, 2, 4, 8).map { np =>
          s"""SELECT b.qid, CAST($np AS BIGINT) AS nprobe, CAST(3 AS BIGINT) AS k,
               CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
             FROM (SELECT DISTINCT qid FROM wb3) b
             LEFT JOIN (SELECT wb3.qid, count(*) AS hits FROM wb3
               JOIN (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
                 FROM wnp WHERE prn <= $np) WHERE rn <= 3) s
               USING (qid, vec_id) GROUP BY wb3.qid) h USING (qid)"""
        }.mkString("\n             UNION ALL\n             ")
        s"""${ivfadcSql(256, 2, nprobe = 16)},
             wnp AS MATERIALIZED (SELECT a.qid, a.vec_id, a.ad, p.prn
               FROM wadc a JOIN wca l ON a.vec_id = l.vec_id
               JOIN wpr p ON p.qid = a.qid AND p.ccid = l.ccid),
             wbs AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             wb3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM wbs)
               WHERE rn <= 3)
             $perNp
             ORDER BY qid, nprobe"""
      }
    ),
    // --------------------------------------------------------------- q220
    // The RE-RANKED operating curve — the decision-grade artifact q217
    // stops short of: q217 sweeps nprobe under LOSSY ADC order (29/31/
    // 30/29, non-monotone — each extra list adds quantization-error
    // impostors), but production serving is two-stage (q212/q216), so
    // the curve a deployment actually tunes on is recall@3 AFTER the
    // exact re-rank of the ADC top-16, at nprobe 1/2/4/8. Measured at
    // sf0.01: 47/51/53/57 — re-ranking restores MONOTONICITY (the
    // refine stage discards the impostors that bend q217's raw curve)
    // and puts 4-probe + re-rank (53/60) and 8-probe (57/60) ABOVE
    // both the 2-probe re-rank point (51/60, == q212, PqSpec-pinned)
    // AND the 2-probe ceiling itself (52/60, q211) — the gated,
    // cross-engine justification that once re-ranking exists, MORE
    // PROBES buy recall again (the probe knob and the refine stage
    // compose; nprobe=2 is the latency choice, not the recall
    // optimum). One all-cells scoring pass
    // carries each candidate's probe rank (q217's sweep economics: the
    // labeled measurement query pays one full-corpus ADC pass, the
    // serving path stays pruned); every curve point is a filter +
    // re-rank over the same scores, and every re-rank fetch is a
    // broadcast of <= 320 candidate rows into the checkpointed corpus
    // — 4 curve points cost 4 broadcast joins, never a list re-scan.
    QueryDef(
      "q220_ann_rerank_curve",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val cc = s.read.parquet(s"$idx/coarse")
        val cb = s.read.parquet(s"$idx/codebook")
        val codes = unpackCodesHex(graft.operators.TieredIndex.read(s, s"$idx/codes"))
        val iv = ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        // one all-cells scoring pass; every curve point filters it
        val scores = ivfadcScores(q, cc, cb, codes, nprobe = 16)
          .localCheckpoint(eager = false)
        val brute3 = bruteTop3(q, iv)
          .localCheckpoint(eager = false)
        val wA = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
        val curve = Seq(1, 2, 4, 8).map { np =>
          val cand16 = scores
            .filter(col("prn") <= np)
            .withColumn("rn", row_number().over(wA))
            .filter(col("rn") <= 16)
            .select(col("qid"), col("vec_id"))
          val rr3 = exactRerank(cand16, q, iv).select(col("qid"), col("vec_id"))
          val hits = brute3
            .join(rr3, Seq("qid", "vec_id"), "left_semi")
            .groupBy(col("qid"))
            .agg(count(lit(1)).as("hits"))
          brute3
            .select(col("qid"))
            .distinct()
            .join(hits, Seq("qid"), "left")
            .select(
              col("qid"), lit(np.toLong).as("nprobe"), lit(3L).as("k"),
              coalesce(col("hits"), lit(0L)).as("hits"))
        }.reduce(_ unionAll _)
        curve.orderBy(col("qid"), col("nprobe"))
      },
      Some {
        val perNpCtes = Seq(1, 2, 4, 8).map { np =>
          s"""rc$np AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wnp WHERE prn <= $np) WHERE rn <= 16),
             rr$np AS (SELECT c.qid, c.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM rc$np c JOIN wq q ON c.qid = q.qid
               JOIN t x ON c.vec_id = x.vec_id),
             rs$np AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM rr$np)
               WHERE rn <= 3)"""
        }.mkString(",\n             ")
        val perNp = Seq(1, 2, 4, 8).map { np =>
          s"""SELECT b.qid, CAST($np AS BIGINT) AS nprobe, CAST(3 AS BIGINT) AS k,
               CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
             FROM (SELECT DISTINCT qid FROM wb3) b
             LEFT JOIN (SELECT wb3.qid, count(*) AS hits FROM wb3
               JOIN rs$np s USING (qid, vec_id) GROUP BY wb3.qid) h USING (qid)"""
        }.mkString("\n             UNION ALL\n             ")
        s"""${ivfadcSql(256, 2, nprobe = 16)},
             wnp AS MATERIALIZED (SELECT a.qid, a.vec_id, a.ad, p.prn
               FROM wadc a JOIN wca l ON a.vec_id = l.vec_id
               JOIN wpr p ON p.qid = a.qid AND p.ccid = l.ccid),
             $perNpCtes,
             wbs AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             wb3 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM wbs)
               WHERE rn <= 3)
             $perNp
             ORDER BY qid, nprobe"""
      }
    ),
    // --------------------------------------------------------------- q221
    // The TUNED serving request — q220's operating curve put into the
    // serving path: with the refine stage in place, nprobe = 4 is the
    // measured recall optimum worth its latency (53/60 vs 51/60 at
    // nprobe = 2, above even the 2-probe ceiling of 52/60), so this is
    // the q216 end-to-end request RE-PARAMETERIZED to probe 4 lists —
    // same artifact, same two stages, one argument changed (the
    // round-12 verdict's point of parameterizing the probe: "so the
    // serving path can express the curve's chosen operating point").
    // Everything is the shared definition sites: ivfadcServe(nprobe=4)
    // on the engine side, ivfadcServeOracleSql(nprobe=4) on the oracle
    // side — q216 and q221 differ by literally one integer in both
    // engines. The pruned codes scan now pushes the union of 4 probed
    // lists per query; per-request reads scale as nprobe/|cells|, the
    // knob the operating curve prices. The gate pins the positioned
    // top-3 WITH exact distances at the tuned point.
    QueryDef(
      "q221_ivfadc_serve_tuned",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val iv = ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcServe(s, idx, q, iv, k = 256, nprobe = 4)
          .orderBy(col("qid"), col("rn"))
      },
      Some(ivfadcServeOracleSql(nprobe = 4))
    ),
    // --------------------------------------------------------------- q222
    // DELETE from the live ANN index — the last CRUD op the storage
    // engine lacked (FAISS remove_ids / the GDPR retraction request):
    // build/append/probe existed (q213/q210/q206); this gates retract.
    // The query snapshots the build-once deep artifact (the process-
    // wide cache is read-only to every other consumer — clone, then
    // mutate the clone: the restore-then-retract shape), issues ONE
    // O(keys) TieredIndex.delete for every vec_id % 7 == 3 (a key-only
    // tombstone segment, no data file touched), then RE-APPENDS the
    // vec_id % 14 == 3 half of them (frozen-encode against the
    // unchanged quantizers — a user re-uploading after a retraction),
    // runs a maintenance cycle (the tombstone-aware compaction folds
    // the delta with masks applied and RETAINS the tombstone while
    // base rows still predate it), and probes. The LSM order contract
    // is the gated point: deleted-and-not-reappended vectors
    // (vec_id % 14 == 10) must vanish from every top-3 while the
    // re-appended ones must rank EXACTLY as if never deleted — the
    // oracle is the deep probe chain with that one exclusion, so any
    // over-masking (set-minus semantics swallowing the re-append) or
    // under-masking fails the hash. At 100 TB: the delete is O(keys)
    // at issue time, masks ride broadcast anti-joins on the probe's
    // already-pruned scan, and the physical removal amortizes into
    // the compactions the index already pays for (TieredIndexSpec
    // pins tombstone retirement).
    QueryDef(
      "q222_ivfadc_delete",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val work = graft.Engine.scratchDir("q222", dir)
        graft.Engine.deleteRecursively(work)
        graft.Engine.copyRecursively(new java.io.File(idx), work)
        val codesDir = s"$work/codes"
        val iv = ivecs(s, dir)
        graft.operators.TieredIndex.delete(
          s, codesDir, iv.filter(col("vec_id") % 7 === 3).select(col("vec_id")))
        val cc = s.read.parquet(s"$work/coarse")
        val cb = s.read.parquet(s"$work/codebook")
        graft.operators.TieredIndex.append(
          s, codesDir,
          packCodesHex(ivfadcEncode(iv.filter(col("vec_id") % 14 === 3), cc, cb)))
        graft.operators.TieredIndex.maintain(
          s, codesDir, Seq(col("ccid"), col("vec_id")), force = true): Unit
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcProbeIndex(s, work.toString, q, k = 256).orderBy(col("qid"), col("rn"))
      },
      Some(s"""${ivfadcSql(256, 2)}
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, ad FROM (
               SELECT qid, vec_id, ad,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wadc WHERE vec_id % 14 <> 10) r
             WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // --------------------------------------------------------------- q224
    // FILTERED ANN SEARCH — metadata-constrained serving, the most
    // common real vector-store request the engine could not yet gate
    // (FAISS IDSelector / every RAG stack's "top-k WHERE ..."): the
    // complete two-stage request (q221's tuned nprobe=4 operating
    // point) constrained to corpus vectors satisfying a predicate.
    // The predicate applies IN-SCAN (on the packed code rows inside
    // the probed lists, before the x8 unpack and before the top-16
    // rank), so the ADC stage keeps the 16 best predicate SURVIVORS —
    // the filter-aware over-fetch done right: post-filtering an
    // unconstrained top-16 would starve the refine stage under a
    // tight filter (16 x selectivity survivors), where this shape
    // always hands it 16 candidates. The refine stage re-ranks
    // exactly those by exact integer L2. Oracle = the serve chain
    // with the SAME WHERE on wadc before its top-16 (the q222
    // exclusion-oracle pattern generalized to arbitrary predicates);
    // any engine-side filter placement that changes the candidate
    // set fails the hash. At 100 TB: the predicate rides the
    // already-pruned probed-list scan (clustered parquet, pushable
    // for scan-level predicates), candidate and refine costs are
    // unchanged — filtering is free at serve time, the selectivity
    // sweep (q225) prices its recall.
    QueryDef(
      "q224_ann_filtered_serve",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val iv = ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcServe(
          s, idx, q, iv, k = 256, nprobe = 4,
          where = Some(col("vec_id") % 3 === 1))
          .orderBy(col("qid"), col("rn"))
      },
      Some(ivfadcServeOracleSql(nprobe = 4, whereSql = "vec_id % 3 = 1"))
    ),
    // --------------------------------------------------------------- q225
    // The FILTERED-SERVE SELECTIVITY x NPROBE SWEEP — q220's
    // decision-grade curve, filter edition: what does a predicate cost
    // in recall, and which knob buys it back? For selectivities 1/2 ..
    // 1/16 (vec_id % denom = 1) x nprobe 4/8/16, the filtered
    // two-stage serve (q224's exact path) is scored against the
    // filtered brute-force exact top-3 — the correct baseline is the
    // best answers AMONG predicate survivors, not the unfiltered
    // truth. MEASURED at sf0.01 (sum of hits / 60): at the tuned
    // nprobe=4, recall DECAYS as the filter tightens — 48/43/42/35
    // for selectivity 1/2 -> 1/16 — because the filter thins every
    // inverted list, so a survivor's true neighbors increasingly live
    // in lists the probe never opens; raising nprobe restores it
    // (denom=16: 35 -> 50 -> 60 at nprobe 4/8/16; denom=8: 42 -> 49
    // -> 57), which is the operational rule this sweep exists to
    // price — SCALE NPROBE WITH FILTER TIGHTNESS (FAISS's
    // filtered-search guidance), paying proportionally more list
    // reads only on filtered requests, where the sparser survivor set
    // also leaves fewer quantization impostors for the refine stage
    // to fight (60/60 at denom=16, nprobe=16). The
    // brute sides are the labeled measurement baseline (bruteTop3,
    // the one definition site, over the filtered corpus); the serving
    // sides all ride the real pruned path.
    QueryDef(
      "q225_ann_filtered_recall",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val iv = ivecs(s, dir)
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val sweep = Seq(2, 4, 8, 16).flatMap { denom =>
          val pred = col("vec_id") % denom === 1
          // the brute baseline depends only on the predicate: ONE
          // corpus scan per denominator, checkpointed, shared by the
          // three nprobe points (the oracle MATERIALIZEs wbs the same
          // way) — not re-planned 3x inside the union
          val brute3 = bruteTop3(q, iv.filter(pred)).localCheckpoint(eager = false)
          Seq(4, 8, 16).map { np =>
            val served = ivfadcServe(
              s, idx, q, iv, k = 256, nprobe = np, where = Some(pred))
              .select(col("qid"), col("vec_id"))
            val hits = brute3
              .join(served, Seq("qid", "vec_id"), "left_semi")
              .groupBy(col("qid"))
              .agg(count(lit(1)).as("hits"))
            brute3
              .select(col("qid"))
              .distinct()
              .join(hits, Seq("qid"), "left")
              .select(
                col("qid"), lit(denom.toLong).as("denom"), lit(np.toLong).as("nprobe"),
                lit(3L).as("k"), coalesce(col("hits"), lit(0L)).as("hits"))
          }
        }.reduce(_ unionAll _)
        sweep.orderBy(col("qid"), col("denom"), col("nprobe"))
      },
      Some {
        // one all-cells scoring table carries each candidate's probe
        // rank (q220's wnp trick): filtering prn <= np reproduces the
        // np-probe candidate set exactly — ADC distances are probe-
        // count-independent (a candidate scores against its own list's
        // lookup table regardless of how many lists are opened)
        val perCellCtes = (for {
          denom <- Seq(2, 4, 8, 16)
          np <- Seq(4, 8, 16)
        } yield {
          s"""f${denom}_$np AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wnp WHERE vec_id % $denom = 1 AND prn <= $np) WHERE rn <= 16),
             g${denom}_$np AS (SELECT c.qid, c.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM f${denom}_$np c JOIN wq q ON c.qid = q.qid
               JOIN t x ON c.vec_id = x.vec_id),
             s${denom}_$np AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn FROM g${denom}_$np)
               WHERE rn <= 3)"""
        }).mkString(",\n             ")
        val bruteCtes = Seq(2, 4, 8, 16).map { denom =>
          s"""fb$denom AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
               FROM wbs WHERE vec_id % $denom = 1) WHERE rn <= 3)"""
        }.mkString(",\n             ")
        val unions = (for {
          denom <- Seq(2, 4, 8, 16)
          np <- Seq(4, 8, 16)
        } yield {
          s"""SELECT b.qid, CAST($denom AS BIGINT) AS denom, CAST($np AS BIGINT) AS nprobe,
               CAST(3 AS BIGINT) AS k, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
             FROM (SELECT DISTINCT qid FROM fb$denom) b
             LEFT JOIN (SELECT fb$denom.qid, count(*) AS hits FROM fb$denom
               JOIN s${denom}_$np s USING (qid, vec_id) GROUP BY fb$denom.qid) h USING (qid)"""
        }).mkString("\n             UNION ALL\n             ")
        s"""${ivfadcSql(256, 2, nprobe = 16)},
             wnp AS MATERIALIZED (SELECT a.qid, a.vec_id, a.ad, p.prn
               FROM wadc a JOIN wca l ON a.vec_id = l.vec_id
               JOIN wpr p ON p.qid = a.qid AND p.ccid = l.ccid),
             wbs AS MATERIALIZED (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             $perCellCtes,
             $bruteCtes
             $unions
             ORDER BY qid, denom, nprobe"""
      }
    ),
    // --------------------------------------------------------------- q226
    // SAMPLED QUANTIZER TRAINING — the one corpus-proportional build
    // cost, cut (round-13 verdict #2: q219's x2.8 sf1 scaling row is
    // the day-0 deep train's two full-corpus Lloyd passes): the
    // coarse cells and the residual codebook fit on a DETERMINISTIC
    // keyed-hash sample (the seed ids, which anchor both quantizers,
    // plus every vec_id whose md5('trn|' || id) digest starts below
    // '4' — ~25% of the rest; the q69 stable-sample spelling, so the
    // oracle replays the exact membership), and the FULL corpus is
    // then frozen-encoded against the sampled-trained quantizers —
    // training cost drops from O(2 x corpus x rounds) to O(2 x sample
    // x rounds) + one O(corpus) encode pass, the FAISS
    // train-on-subsample recipe. Gated END-TO-END: artifacts written
    // through the one writer (sampled-train dispatch), served through
    // the one two-stage path; the oracle re-runs the identical
    // sampled training (trainWhere through the shared ivfadcSql —
    // q210's day-0 mechanism applied to training cost), so a single
    // vector sampled differently fails the hash. Recall parity is
    // ledgered in PERF.md against the q220 curve; the sf1 train-cost
    // cut is the round's PERF row.
    QueryDef(
      "q226_ivfadc_sampled_train",
      (s, dir) => {
        val work = graft.Engine.scratchDir("q226", dir)
        graft.Engine.deleteRecursively(work)
        val iv = ivecs(s, dir)
        writeIvfAdcArtifacts(
          s, work.toString, iv, k = 256, rounds = 2,
          trainIv = Some(iv.filter(sampledTrainCol)))
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcServe(s, work.toString, q, iv, k = 256)
          .orderBy(col("qid"), col("rn"))
      },
      Some(ivfadcServeOracleSql(trainWhere = sampledTrainWhereSql))
    ),
    // --------------------------------------------------------------- q231
    // HARD-NEGATIVE MINING — the contrastive-training data job every
    // embedding-model pipeline runs (SBERT/DPR mining): for each
    // anchor, the nearest corpus vectors whose LABEL DIFFERS from the
    // anchor's — close in embedding space but semantically wrong, the
    // negatives that actually move a contrastive loss. Rides the REAL
    // serving path: the deep persisted index's pruned ADC scan at the
    // tuned nprobe=4, with the label constraint applied through
    // `scoreFilter` — the PER-QUERY filtered serve (q224's `where`
    // generalizes to predicates over the (query, candidate) PAIR) —
    // BEFORE the top-16 rank, so the candidate set is the 16 best
    // different-label survivors, never a starved post-filter; the
    // refine stage then exact-ranks the top-3 mined negatives. At
    // 100 TB: anchors broadcast (training batches are bounded), the
    // label fetch is one column-pruned join against the probed-list
    // candidates (production layout stores the label as a payload
    // column IN the codes index, making it a scan-level predicate —
    // the TieredIndex accepts extra columns today); mining the whole
    // corpus as anchors is this same job keyed by anchor batch.
    QueryDef(
      "q231_hard_negative_mining",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val iv = ivecs(s, dir)
        val lab = Engine.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"))
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val qlab = lab
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"))
        val negOnly: DataFrame => DataFrame = sc =>
          sc.join(broadcast(qlab), "qid")
            .join(lab, "vec_id")
            .filter(col("label") =!= col("qlabel"))
            .select(col("qid"), col("vec_id"), col("ad"))
        ivfadcServe(s, idx, q, iv, k = 256, nprobe = 4, scoreFilter = negOnly)
          .orderBy(col("qid"), col("rn"))
      },
      Some(s"""${ivfadcSql(256, 2, nprobe = 4)},
             lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
             wneg AS (SELECT a.qid, a.vec_id, a.ad FROM wadc a
                 JOIN lab ql ON a.qid = ql.vec_id
                 JOIN lab cl ON a.vec_id = cl.vec_id
                 WHERE cl.label <> ql.label),
             wad16 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wneg) WHERE rn <= 16),
             wrr AS (SELECT c.qid, c.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wad16 c JOIN wq q ON c.qid = q.qid
               JOIN t x ON c.vec_id = x.vec_id)
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, CAST(d AS BIGINT) AS d FROM (
               SELECT qid, vec_id, d,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
               FROM wrr) r
             WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // --------------------------------------------------------------- q235
    // FLAT SQ8 SERVING — the OTHER standard quantization family
    // (FAISS IndexScalarQuantizer): per-dimension INTEGER-GRID scalar
    // quantization to 8 bits (step = ceil(range/255) in micro-units,
    // reconstruct at the cell midpoint — all BIGINT arithmetic, so
    // both engines land the exact same codes with no FP rounding
    // story at all), asymmetric distance (exact query vs
    // reconstructed corpus — SQ's ADC), top-16 candidates, exact
    // re-rank to top-3. The memory trade vs PQ: SQ8 keeps 1 byte/dim
    // (8x smaller than float32, 64 codes/vector where PQ stores 8)
    // with a FULL-dimension reconstruction — higher fidelity per
    // byte read than PQ's 8 subspace centroids, but the scan is
    // O(corpus) per query: flat SQ8 is the memory-bound middle rung
    // of the ladder (brute -> SQ8 -> IVFADC), and composes with the
    // IVF machinery (quantize residuals instead of vectors) exactly
    // as PQ does when list pruning is also needed. Stats are one
    // per-dim aggregate (64 rows, broadcast); the quantize pass is
    // one linear scan, the same cost class as ivfadcEncode.
    QueryDef(
      "q235_sq8_serve",
      (s, dir) => {
        val iv = ivecs(s, dir)
        val ex = iv.select(col("vec_id"), posexplode(col("iv")).as(Seq("pos", "v")))
        val st = ex
          .groupBy(col("pos"))
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
          .withColumn("step", greatest(lit(1L), expr("(mx - mn + 254) div 255")))
          .select(col("pos"), col("mn"), col("step"))
        val rv = ex
          .join(broadcast(st), "pos")
          .withColumn("r", expr("mn + ((v - mn) div step) * step + step div 2"))
          .groupBy(col("vec_id"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, r))), p -> p.r)").as("rv"))
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val wA = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
        val cand = broadcast(q)
          .join(rv, col("qid") =!= col("vec_id"))
          .select(
            col("qid"), col("vec_id"),
            graft.functions.VectorOps.l2sqLong(col("qiv"), col("rv")).as("ad"))
          .withColumn("rn", row_number().over(wA))
          .filter(col("rn") <= 16)
          .select(col("qid"), col("vec_id"))
        exactRerank(cand, q, iv).orderBy(col("qid"), col("rn"))
      },
      Some(s"""WITH t AS (SELECT vec_id, list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 16777216) AS iv
               FROM embeddings),
             ex AS (SELECT vec_id, unnest(generate_series(1, len(iv))) AS j FROM t),
             exv AS (SELECT e.vec_id, e.j, t.iv[e.j] AS v
               FROM ex e JOIN t ON e.vec_id = t.vec_id),
             st AS (SELECT j, min(v) AS mn, max(v) AS mx FROM exv GROUP BY j),
             st2 AS (SELECT j, mn, greatest(1, (mx - mn + 254) // 255) AS step FROM st),
             rc AS (SELECT e.vec_id, e.j,
                 s.mn + ((e.v - s.mn) // s.step) * s.step + s.step // 2 AS r
               FROM exv e JOIN st2 s USING (j)),
             rv AS (SELECT vec_id, list(r ORDER BY j) AS rv FROM rc GROUP BY vec_id),
             wq AS (SELECT vec_id AS qid, iv AS qiv FROM t WHERE vec_id < 20),
             sc AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.rv[j]) * (q.qiv[j] - x.rv[j]))) AS ad
               FROM wq q JOIN rv x ON q.qid <> x.vec_id),
             c16 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM sc) WHERE rn <= 16),
             wrr AS (SELECT c.qid, c.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM c16 c JOIN wq q ON c.qid = q.qid
               JOIN t x ON c.vec_id = x.vec_id)
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, CAST(d AS BIGINT) AS d FROM (
               SELECT qid, vec_id, d,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
               FROM wrr) r
             WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // --------------------------------------------------------------- q238
    // RETRIEVAL QUALITY METRICS (MRR / nDCG@10) — the evaluation
    // operator every embedding-model training loop runs after each
    // checkpoint: rank the corpus per query (exact integer L2 — the
    // metric harness must not fold index error into model error),
    // grade the top-10 against labeled relevance (same label =
    // relevant), and emit per-query n_rel@10, MRR, and nDCG@10. The
    // log2 discount table is computed ONCE in Scala, rounded to 6dp,
    // and interpolated into BOTH engines as literals — the one FP
    // transcendental in the whole metric enters as identical constants,
    // so the gate has no libm story (sums of identical doubles, then
    // the q81 round-before-compare rule). IDCG truncates the ideal
    // gain list at min(|relevant|, 10) — real nDCG, not the
    // top-heavy approximation. At 100 TB: the ranking stage is the
    // brute/served top-k (swap in q216's serve path exactly as q230
    // documents); the grading joins are label lookups on 20x10
    // bounded rows.
    QueryDef(
      "q238_retrieval_metrics",
      (s, dir) => {
        import s.implicits._
        val iv = ivecs(s, dir)
        val lab = Engine.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"))
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val qlab = lab
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"))
        val wB = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
        val top10 = broadcast(q)
          .join(iv, col("qid") =!= col("vec_id"))
          .select(
            col("qid"), col("vec_id"),
            graft.functions.VectorOps.l2sqLong(col("qiv"), col("iv")).as("d"))
          .withColumn("p", row_number().over(wB))
          .filter(col("p") <= 10)
          .join(broadcast(qlab), "qid")
          .join(lab, "vec_id")
          .withColumn("rel", (col("label") === col("qlabel")).cast("int"))
        val wdf = dcgWeights.toDF("p", "w")
        val perq = top10
          .join(broadcast(wdf), "p")
          .groupBy(col("qid"))
          .agg(
            sum(col("rel")).cast("long").as("n_rel10"),
            round(sum(col("rel") * col("w")), 6).as("dcg"),
            min(when(col("rel") === 1, col("p"))).as("frank"))
        val labCount = lab.groupBy(col("label")).agg(count(lit(1)).as("nl"))
        val rq = qlab
          .join(broadcast(labCount), col("qlabel") === col("label"))
          .select(col("qid"), (col("nl") - 1).as("nrel"))
        val idcg = rq
          .crossJoin(broadcast(wdf))
          .filter(col("p") <= least(col("nrel"), lit(10L)))
          .groupBy(col("qid"))
          .agg(round(sum(col("w")), 6).as("idcg"))
        // LEFT join: a query whose label has no other corpus member
        // (nrel = 0) has no idcg row, and an inner join would silently
        // DROP it from the metrics — overstating aggregate MRR/nDCG
        // (round-14 ADVICE). It stays as one row with mrr = ndcg10 = 0,
        // keeping the "one metrics row per query" contract.
        perq
          .join(idcg, Seq("qid"), "left")
          .select(
            col("qid"), col("n_rel10"),
            round(coalesce(lit(1.0) / col("frank"), lit(0.0)), 6).as("mrr"),
            coalesce(round(col("dcg") / col("idcg"), 6), lit(0.0)).as("ndcg10"))
          .orderBy(col("qid"))
      },
      Some {
        val wRows = dcgWeights
          .map { case (p, w) => s"SELECT $p AS p, CAST($w AS DOUBLE) AS w" }
          .mkString(" UNION ALL ")
        s"""WITH t AS (SELECT vec_id, list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 16777216) AS iv
               FROM embeddings),
             lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
             wq AS (SELECT vec_id AS qid, iv AS qiv FROM t WHERE vec_id < 20),
             ql AS (SELECT vec_id AS qid, label AS qlabel FROM lab WHERE vec_id < 20),
             dd AS (SELECT q.qid, x.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM wq q JOIN t x ON q.qid <> x.vec_id),
             r AS (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS p FROM dd),
             top10 AS (SELECT r.qid, r.vec_id, r.p,
                 CASE WHEN cl.label = ql.qlabel THEN 1 ELSE 0 END AS rel
               FROM r JOIN lab cl ON r.vec_id = cl.vec_id
               JOIN ql ON r.qid = ql.qid WHERE r.p <= 10),
             w AS ($wRows),
             perq AS (SELECT t10.qid, CAST(sum(rel) AS BIGINT) AS n_rel10,
                 round(sum(rel * w.w), 6) AS dcg,
                 min(CASE WHEN rel = 1 THEN t10.p END) AS frank
               FROM top10 t10 JOIN w ON t10.p = w.p GROUP BY t10.qid),
             lc AS (SELECT label, count(*) AS nl FROM lab GROUP BY label),
             rq AS (SELECT ql.qid, lc.nl - 1 AS nrel
               FROM ql JOIN lc ON ql.qlabel = lc.label),
             idcg AS (SELECT rq.qid, round(sum(w.w), 6) AS idcg
               FROM rq CROSS JOIN w WHERE w.p <= least(rq.nrel, 10)
               GROUP BY rq.qid)
             SELECT p.qid, p.n_rel10,
               round(coalesce(CAST(1 AS DOUBLE) / p.frank, 0), 6) AS mrr,
               coalesce(round(p.dcg / i.idcg, 6), CAST(0 AS DOUBLE)) AS ndcg10
             FROM perq p LEFT JOIN idcg i ON p.qid = i.qid ORDER BY p.qid"""
      }
    ),
    // --------------------------------------------------------------- q239
    // IVF-SQ8 — the remaining rung of the quantization ladder (FAISS
    // IndexIVFScalarQuantizer): coarse cells prune the search to
    // nprobe=2 inverted lists exactly as IVFADC does, but the
    // residuals are SCALAR-quantized per dimension (q235's integer-
    // grid SQ8 applied to RESIDUAL space — smaller ranges than raw
    // vectors, so the same 8 bits buy finer steps) instead of
    // product-quantized. ADC form: the query's PER-CELL residual
    // (q - centroid, one per probed list) scores against candidates'
    // midpoint reconstructions — all BIGINT, no FP anywhere in the
    // approximate stage. Top-16 survivors exact-re-rank to the served
    // top-3. One table for the memory ladder at 64 dims: PQ stores 8
    // codes/vector (64x compression), SQ8 64 codes (8x), floats 256
    // bytes — IVF-SQ8 is what deployments run when PQ's distortion
    // costs too much recall and memory allows a byte per dimension.
    QueryDef(
      "q239_ivf_sq8_serve",
      (s, dir) => {
        val iv = ivecs(s, dir)
        val cc = coarseCells(iv, 2).localCheckpoint(eager = false)
        val ca = coarseAssign(iv, cc)
        val rv = iv
          .join(ca, "vec_id")
          .join(broadcast(cc), "ccid")
          .select(
            col("vec_id"), col("ccid"),
            expr("zip_with(iv, ccv, (a, b) -> a - b + 16777216L)").as("rv"))
        val ex = rv.select(col("vec_id"), posexplode(col("rv")).as(Seq("pos", "v")))
        val st = ex
          .groupBy(col("pos"))
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
          .withColumn("step", greatest(lit(1L), expr("(mx - mn + 254) div 255")))
          .select(col("pos"), col("mn"), col("step"))
        val rec = ex
          .join(broadcast(st), "pos")
          .withColumn("r", expr("mn + ((v - mn) div step) * step + step div 2"))
          .groupBy(col("vec_id"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, r))), p -> p.r)").as("rq"))
          .join(ca, "vec_id")
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val qr = probeCells(q, cc, 2)
          .select(
            col("qid"), col("ccid"),
            expr("zip_with(qiv, ccv, (a, b) -> a - b + 16777216L)").as("qrv"))
        val wA = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
        val cand = rec
          .join(broadcast(qr), "ccid")
          .filter(col("qid") =!= col("vec_id"))
          .select(
            col("qid"), col("vec_id"),
            graft.functions.VectorOps.l2sqLong(col("qrv"), col("rq")).as("ad"))
          .withColumn("rn", row_number().over(wA))
          .filter(col("rn") <= 16)
          .select(col("qid"), col("vec_id"))
        exactRerank(cand, q, iv).orderBy(col("qid"), col("rn"))
      },
      Some(s"""${ivfCoarseSql("", 2, nprobe = 2)},
             srv AS (SELECT a.vec_id, a.ccid,
                 list_transform(generate_series(1, len(t.iv)),
                   j -> t.iv[j] - c.ccv[j] + 16777216) AS rv
               FROM wca a JOIN t ON a.vec_id = t.vec_id JOIN wcc c ON a.ccid = c.ccid),
             sex AS (SELECT vec_id, unnest(generate_series(1, len(rv))) AS j FROM srv),
             sexv AS (SELECT e.vec_id, e.j, r.rv[e.j] AS v
               FROM sex e JOIN srv r ON e.vec_id = r.vec_id),
             sst AS (SELECT j, min(v) AS mn, max(v) AS mx FROM sexv GROUP BY j),
             sst2 AS (SELECT j, mn, greatest(1, (mx - mn + 254) // 255) AS step FROM sst),
             src AS (SELECT e.vec_id, e.j,
                 s.mn + ((e.v - s.mn) // s.step) * s.step + s.step // 2 AS r
               FROM sexv e JOIN sst2 s USING (j)),
             srq AS (SELECT vec_id, list(r ORDER BY j) AS rq FROM src GROUP BY vec_id),
             sqr AS (SELECT p.qid, p.ccid,
                 list_transform(generate_series(1, len(p.qiv)),
                   j -> p.qiv[j] - c.ccv[j] + 16777216) AS qrv
               FROM wpr p JOIN wcc c ON p.ccid = c.ccid),
             ssc AS (SELECT q.qid, a.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qrv)),
                   j -> (q.qrv[j] - x.rq[j]) * (q.qrv[j] - x.rq[j]))) AS ad
               FROM sqr q JOIN wca a ON a.ccid = q.ccid
               JOIN srq x ON a.vec_id = x.vec_id
               WHERE q.qid <> a.vec_id),
             s16 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM ssc) WHERE rn <= 16),
             wrr AS (SELECT c.qid, c.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM s16 c JOIN wq q ON c.qid = q.qid
               JOIN t x ON c.vec_id = x.vec_id)
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, CAST(d AS BIGINT) AS d FROM (
               SELECT qid, vec_id, d,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
               FROM wrr) r
             WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // --------------------------------------------------------------- q240
    // INDEX STATS / EXPLAIN — the health check every vector-store ops
    // team runs before trusting an index (FAISS's imbalance_factor,
    // `DESCRIBE INDEX`): the persisted deep artifact's inverted-list
    // HISTOGRAM, read from the index itself (one row per cell with its
    // population and corpus fraction), gated against the oracle
    // re-deriving the same assignment from training — so the gate
    // simultaneously proves the artifact's codes table IS the
    // assignment (no drift between what was written and what training
    // says) and prices list skew: a hot cell reads as a hot list at
    // serve time (probe cost is proportional to the lists opened), so
    // this histogram is the capacity-planning input for nprobe and the
    // skew trigger for re-training. The per-cell count rides the
    // packed rows (one per (vec_id, ccid)) — a metadata-cheap scan of
    // the clustered index, never an unpack.
    QueryDef(
      "q240_ann_index_stats",
      (s, dir) => {
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        // one codes scan: the 16-row histogram feeds both the output
        // rows and its own total — checkpointed so the total's branch
        // cannot re-scan a corpus-sized codes table at scale
        val n = graft.operators.TieredIndex
          .read(s, s"$idx/codes")
          .groupBy(col("ccid"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint(eager = false)
        n.crossJoin(broadcast(n.agg(sum(col("n")).as("tot"))))
          .select(
            col("ccid"), col("n"),
            round(col("n") / col("tot"), 6).as("frac"))
          .orderBy(col("ccid"))
      },
      Some(s"""${ivfCoarseSql("", 2)},
             cnt AS (SELECT ccid, CAST(count(*) AS BIGINT) AS n
               FROM wca GROUP BY ccid),
             tot AS (SELECT sum(n) AS tot FROM cnt)
             SELECT ccid, n, round(n / tot.tot, 6) AS frac
             FROM cnt CROSS JOIN tot ORDER BY ccid""")
    ),
    // --------------------------------------------------------------- q245
    // SYSTEM-RECALL METRICS — q238's MRR/nDCG@10 harness pointed at
    // the SERVED ranking instead of the exact brute scan (round-14
    // verdict #1, second half): the ranking stage is the complete
    // two-stage request against the persisted deep artifact (nprobe=4,
    // ADC top-32, exact re-rank to a positioned top-10), so the graded
    // number is what a deployment actually reports — model error AND
    // index error folded together, the end-to-end "system recall"
    // every RAG evaluation publishes next to q238's index-free
    // ceiling. Same label protocol, same interpolated log2 discount
    // constants, same left-join zero-relevant contract; the oracle
    // replays the full train + probe + re-rank chain into the metric
    // CTEs, so one mis-served neighbor moves a query's nDCG and fails
    // the hash. At scale: the ranking stage reads nprobe/|cells| of
    // the codes artifact per query; the grading stays 20 x 10 bounded
    // rows.
    QueryDef(
      "q245_served_metrics",
      (s, dir) => {
        import s.implicits._
        val idx = buildIvfAdcIndex(s, dir, k = 256, rounds = 2)
        val iv = ivecs(s, dir)
        val lab = Engine.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"))
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        val qlab = lab
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"))
        val top10 = ivfadcServe(s, idx, q, iv, k = 256, nprobe = 4, candN = 32, topN = 10)
          .select(col("qid"), col("rn").cast("int").as("p"), col("vec_id"))
          .join(broadcast(qlab), "qid")
          .join(lab, "vec_id")
          .withColumn("rel", (col("label") === col("qlabel")).cast("int"))
        val wdf = dcgWeights.toDF("p", "w")
        val perq = top10
          .join(broadcast(wdf), "p")
          .groupBy(col("qid"))
          .agg(
            sum(col("rel")).cast("long").as("n_rel10"),
            round(sum(col("rel") * col("w")), 6).as("dcg"),
            min(when(col("rel") === 1, col("p"))).as("frank"))
        val labCount = lab.groupBy(col("label")).agg(count(lit(1)).as("nl"))
        val rq = qlab
          .join(broadcast(labCount), col("qlabel") === col("label"))
          .select(col("qid"), (col("nl") - 1).as("nrel"))
        val idcg = rq
          .crossJoin(broadcast(wdf))
          .filter(col("p") <= least(col("nrel"), lit(10L)))
          .groupBy(col("qid"))
          .agg(round(sum(col("w")), 6).as("idcg"))
        perq
          .join(idcg, Seq("qid"), "left")
          .select(
            col("qid"), col("n_rel10"),
            round(coalesce(lit(1.0) / col("frank"), lit(0.0)), 6).as("mrr"),
            coalesce(round(col("dcg") / col("idcg"), 6), lit(0.0)).as("ndcg10"))
          .orderBy(col("qid"))
      },
      Some {
        val wRows = dcgWeights
          .map { case (p, w) => s"SELECT $p AS p, CAST($w AS DOUBLE) AS w" }
          .mkString(" UNION ALL ")
        s"""${ivfadcServeCtesSql(nprobe = 4, candN = 32)},
             lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
             ql AS (SELECT vec_id AS qid, label AS qlabel FROM lab WHERE vec_id < 20),
             top10 AS (SELECT s.qid, s.vec_id, s.rn AS p,
                 CASE WHEN cl.label = ql.qlabel THEN 1 ELSE 0 END AS rel
               FROM wsrv s JOIN lab cl ON s.vec_id = cl.vec_id
               JOIN ql ON s.qid = ql.qid WHERE s.rn <= 10),
             w AS ($wRows),
             perq AS (SELECT t10.qid, CAST(sum(rel) AS BIGINT) AS n_rel10,
                 round(sum(rel * w.w), 6) AS dcg,
                 min(CASE WHEN rel = 1 THEN t10.p END) AS frank
               FROM top10 t10 JOIN w ON t10.p = w.p GROUP BY t10.qid),
             lc AS (SELECT label, count(*) AS nl FROM lab GROUP BY label),
             rq AS (SELECT ql.qid, lc.nl - 1 AS nrel
               FROM ql JOIN lc ON ql.qlabel = lc.label),
             idcg AS (SELECT rq.qid, round(sum(w.w), 6) AS idcg
               FROM rq CROSS JOIN w WHERE w.p <= least(rq.nrel, 10)
               GROUP BY rq.qid)
             SELECT p.qid, p.n_rel10,
               round(coalesce(CAST(1 AS DOUBLE) / p.frank, 0), 6) AS mrr,
               coalesce(round(p.dcg / i.idcg, 6), CAST(0 AS DOUBLE)) AS ndcg10
             FROM perq p LEFT JOIN idcg i ON p.qid = i.qid ORDER BY p.qid"""
      }
    ),
    // --------------------------------------------------------------- q247
    // QUANTIZER RETRAIN + BLUE/GREEN SWAP — the one lifecycle event a
    // year-long ANN deployment must handle that rebuild-free ingest
    // cannot (round-14 verdict #3): quantizers are FROZEN at training
    // time, so as the corpus drifts the codebook ages and recall decays
    // — the fix is never in-place (a new codebook scoring old codes is
    // silent garbage) but a RETRAIN into a complete new artifact
    // GENERATION behind a pointer swap (Generations.commit — the
    // TieredIndex pointer discipline one level up). The gate runs the
    // whole loop: (blue) day-0 quantizers trained on a biased half of
    // the corpus (the aged-distribution stand-in) serve as CURRENT;
    // the DRIFT TRIGGER reads the live index's inverted-list histogram
    // (q240's stats operator as the trigger input — skewed lists ARE
    // what an aged codebook looks like: drifted vectors pile into few
    // cells) as one single-row aggregate driver fetch (a retrain is
    // driver-side control flow by nature — the DedupOps.sig precedent,
    // documented); above the imbalance threshold, (green) retrains on
    // the q226 deterministic sample of the CURRENT population,
    // re-encodes the full corpus, commits gen-00001, and swaps.
    // Serving resolves CURRENT per request, so post-swap requests ride
    // the fresh quantizers with zero downtime while in-flight readers
    // of the old generation stay valid for one retrain cycle
    // (GenerationsSpec pins reader-across-swap + rollback). Gated
    // observable: the post-swap serve must EQUAL a fresh sampled-train
    // serve — the oracle replays sampled training + probe + re-rank,
    // so a stale codebook, a missed re-encode, or a half-swapped
    // artifact all fail the hash. At 100 TB: retrain cost is q226's
    // O(sample) Lloyd + O(corpus) encode, paid only when the trigger
    // trips; the swap itself is O(1).
    QueryDef(
      "q247_quantizer_retrain_swap",
      (s, dir) => {
        val G = graft.operators.Generations
        val root = graft.Engine.scratchDir("q247", dir)
        graft.Engine.deleteRecursively(root)
        val iv = ivecs(s, dir)
        // BLUE: quantizers fit on a biased half (seeds + even ids) —
        // the aged codebook; the full corpus still frozen-encodes
        writeIvfAdcArtifacts(
          s, s"$root/gen-00000", iv, k = 16, rounds = 1,
          trainIv = Some(iv.filter(col("vec_id") < 32 || col("vec_id") % 2 === 0)))
        G.commit(root.toString, "gen-00000")
        // DRIFT TRIGGER: live list histogram of the CURRENT artifact
        // (q240's shape); imbalance = max list / uniform share. ONE
        // single-row aggregate driver fetch — the retrain decision is
        // driver-side control flow (documented scalar-fetch precedent)
        val hist = graft.operators.TieredIndex
          .read(s, s"${G.resolve(root.toString)}/codes")
          .groupBy(col("ccid"))
          .agg(count(lit(1)).as("n"))
          .agg(max(col("n")).as("mx"), count(lit(1)).as("cells"), sum(col("n")).as("tot"))
          .head()
        val imbalance = hist.getLong(0).toDouble * hist.getLong(1) / hist.getLong(2)
        if (imbalance >= 1.2) {
          // GREEN: retrain on the deterministic sample of the CURRENT
          // population (q226's path), re-encode everything, commit the
          // new generation, swap — readers of gen-00000 stay valid
          writeIvfAdcArtifacts(
            s, s"$root/gen-00001", iv, k = 16, rounds = 1,
            trainIv = Some(iv.filter(sampledTrainCol)))
          G.commit(root.toString, "gen-00001")
        }
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcServe(s, G.resolve(root.toString), q, iv, k = 16)
          .orderBy(col("qid"), col("rn"))
      },
      Some(s"""${ivfadcServeCtesSql(
          k = 16, rounds = 1, trainWhere = sampledTrainWhereSql)}
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, CAST(d AS BIGINT) AS d
             FROM wsrv WHERE rn <= 3 ORDER BY qid, rn""")
    ),
    // --------------------------------------------------------------- q254
    // GENERATION ROLLBACK — the operational panic button q247's swap
    // machinery must also serve: the retrained (green) generation
    // ships, turns out bad (a recall regression the offline gate
    // missed, a corrupted re-encode), and operations points CURRENT
    // BACK at the retained previous generation — possible precisely
    // because commit's GC keeps it alive for in-flight readers
    // (GenerationsSpec pins that a rollback commit never GCs the
    // generation being committed, whatever name-order says). Gated
    // end to end: blue (biased-half quantizers) commits, green
    // (sampled retrain) commits and swaps, then the ROLLBACK commit
    // re-points at blue — and serving from the resolved CURRENT must
    // EQUAL a fresh biased-train serve, i.e. the rollback restores
    // bit-identical serving, not merely "some old files". At scale:
    // a rollback is one pointer write — O(1), zero data movement,
    // which is the whole argument for generations over in-place
    // retraining.
    QueryDef(
      "q254_generation_rollback",
      (s, dir) => {
        val G = graft.operators.Generations
        val root = graft.Engine.scratchDir("q254", dir)
        graft.Engine.deleteRecursively(root)
        val iv = ivecs(s, dir)
        writeIvfAdcArtifacts(
          s, s"$root/gen-00000", iv, k = 16, rounds = 1,
          trainIv = Some(iv.filter(col("vec_id") < 32 || col("vec_id") % 2 === 0)))
        G.commit(root.toString, "gen-00000")
        writeIvfAdcArtifacts(
          s, s"$root/gen-00001", iv, k = 16, rounds = 1,
          trainIv = Some(iv.filter(sampledTrainCol)))
        G.commit(root.toString, "gen-00001")
        // the green generation is bad: one pointer write rolls back
        G.commit(root.toString, "gen-00000")
        val q = iv
          .filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("iv").as("qiv"))
        ivfadcServe(s, G.resolve(root.toString), q, iv, k = 16)
          .orderBy(col("qid"), col("rn"))
      },
      Some(s"""${ivfadcServeCtesSql(
          k = 16, rounds = 1, trainWhere = "vec_id < 32 OR vec_id % 2 = 0")}
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, CAST(d AS BIGINT) AS d
             FROM wsrv WHERE rn <= 3 ORDER BY qid, rn""")
    )
  )

  /** PQ subvector rows (vec_id, m, sv): the 64-dim integer micro-unit
    * vector split into M=8 contiguous 8-dim subspaces.
    */
  private def pqSubs(s: SparkSession, dir: String): DataFrame =
    ivecs(s, dir)
      .select(
        col("vec_id"),
        explode(expr("transform(sequence(0, 7), " +
          "m -> named_struct('m', m, 'sv', slice(iv, m * 8 + 1, 8)))")).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))

  /** The refined per-subspace codebook (m, cid, cv): init = the 16
    * lowest vec_ids' subvectors (cid = vec_id, the q63 convention), one
    * exact-integer Lloyd refinement (means floor-divide on non-negative
    * micro-units, so Spark div == DuckDB //; empty cells keep their
    * seed). 128 rows total — always broadcast. Delegates to
    * [[pqCodebookDeep]] at (K=16, 1 round) — one definition site for
    * the shallow (q202/q203) and deep (q207) recipes.
    */
  private[graft] def pqCodebook(s: SparkSession, dir: String): DataFrame =
    pqCodebookDeep(s, dir, k = 16, rounds = 1)

  /** The DEPTH-generalized per-subspace codebook: seeds = the `k`
    * lowest vec_ids' subvectors (cid = vec_id; K adapts as min(k, n)
    * by construction), `rounds` exact-integer Lloyd refinements via
    * [[lloydRefine]]. M x K rows — broadcast at every use (K=256 is
    * 2048 rows, still trivially broadcastable).
    */
  private[graft] def pqCodebookDeep(
      s: SparkSession, dir: String, k: Int, rounds: Int): DataFrame = {
    val sub = pqSubs(s, dir).localCheckpoint(eager = false)
    lloydRefine(
      sub,
      sub.filter(col("vec_id") < k)
        .select(col("m"), col("vec_id").as("cid"), col("sv").as("cv")),
      rounds)
  }

  /** Per-(vec_id, m) argmin assignment of subvector rows against a
    * broadcast codebook — ties to the lower cid; `d` is the winning
    * exact-integer squared L2. THE one Spark spelling of the Lloyd
    * assignment, shared by the PQ family (q202/q203/q207 via
    * [[pqAssign]]) and the IVFADC family (q204/q206/q208 via
    * [[ivfadcTrain]]) — its invariants (tie-break, exact-integer
    * kernel) must never fork between the two (round-11 review item).
    * Extra columns on `sub` ride along untouched.
    */
  private def lloydAssign(sub: DataFrame, cb: DataFrame): DataFrame =
    sub
      .join(broadcast(cb), Seq("m"))
      .withColumn("d", graft.functions.VectorOps.l2sqLong(col("sv"), col("cv")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("cid"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cid").as("cid"), col("best.d").as("d"))

  /** `rounds` exact-integer Lloyd refinements of `seed` over subvector
    * rows `sub` — THE one Spark spelling of the refinement round
    * (assign -> floor-divided means on non-negative micro-units, so
    * Spark div == DuckDB // -> empty cells keep their PREVIOUS round's
    * value, not necessarily their seed; the oracle chains coalesce per
    * round identically).
    */
  private def lloydRefine(sub: DataFrame, seed: DataFrame, rounds: Int): DataFrame = {
    var cb = seed
    for (r <- 1 to rounds) {
      val means = lloydAssign(sub, cb)
        .join(sub, Seq("vec_id", "m"))
        .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("m"), col("cid"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("mm"))
        .groupBy(col("m"), col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, mm))), p -> p.mm)").as("nv"))
      cb = cb
        // both sides are <= M x K rows; without the hint the initial
        // plan sort-merges this left join (AQE would fix it at runtime,
        // but the pinned plan should be right from the start)
        .join(broadcast(means), Seq("m", "cid"), "left")
        .select(col("m"), col("cid"), coalesce(col("nv"), col("cv")).as("cv"))
      // intermediate rounds are consumed twice (next assign + their
      // own means chain) — checkpoint them; the FINAL codebook's reuse
      // pattern is the caller's to decide (q203 and ivfadcTrain add
      // their own, q202/q207's single consumption must not pay one —
      // the refactor briefly checkpointed it unconditionally and q202
      // took +0.5 s at sf0.1)
      if (r < rounds) cb = cb.localCheckpoint(eager = false)
    }
    cb
  }

  /** Final PQ assignment (vec_id, m, cid, d) against the refined
    * codebook — the shared core of q202 (encode) and q203 (ADC search);
    * [[lloydAssign]] on the raw subvector rows.
    */
  private[graft] def pqAssign(s: SparkSession, dir: String, cb: DataFrame): DataFrame =
    lloydAssign(pqSubs(s, dir), cb)

  /** DuckDB CTE chain mirroring [[pqCodebook]] + [[pqAssign]]: ends with
    * `pa2` whose rk=1 rows are the final (vec_id, m, cid, dist)
    * assignment, with `pc1` the refined codebook and `t` the integer
    * vectors. A def — `entries` oracle strings interpolate eagerly.
    */
  private def pqSql: String =
    """WITH t AS (
         SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 16777216) AS iv
         FROM embeddings),
       psub AS (
         SELECT vec_id, mm.m, list_slice(iv, mm.m * 8 + 1, mm.m * 8 + 8) AS sv
         FROM t, (SELECT unnest(generate_series(0, 7)) AS m) mm),
       pc0 AS (SELECT m, vec_id AS cid, sv AS cv FROM psub WHERE vec_id < 16),
       pa1 AS (
         SELECT vec_id, m, cid,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk
         FROM (
           SELECT s.vec_id, s.m, c.cid,
             list_sum(list_transform(generate_series(1, len(s.sv)),
               j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))) AS dist
           FROM psub s JOIN pc0 c ON s.m = c.m)),
       pm1 AS (
         SELECT a.m, a.cid, u.pos, CAST(sum(u.v) // count(*) AS BIGINT) AS mn
         FROM pa1 a JOIN psub s ON a.vec_id = s.vec_id AND a.m = s.m,
           LATERAL (SELECT unnest(s.sv) AS v,
             unnest(generate_series(1, len(s.sv))) AS pos) u
         WHERE a.rk = 1
         GROUP BY a.m, a.cid, u.pos),
       pc1 AS (
         SELECT pc0.m, pc0.cid, coalesce(x.nv, pc0.cv) AS cv
         FROM pc0 LEFT JOIN (
           SELECT m, cid, list(mn ORDER BY pos) AS nv FROM pm1 GROUP BY m, cid) x
           ON pc0.m = x.m AND pc0.cid = x.cid),
       pa2 AS (
         SELECT vec_id, m, cid, dist,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk
         FROM (
           SELECT s.vec_id, s.m, c.cid,
             list_sum(list_transform(generate_series(1, len(s.sv)),
               j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))) AS dist
           FROM psub s JOIN pc1 c ON s.m = c.m))"""

  // ------------------------------------------------------- IVFADC system

  /** IVFADC TRAINING — one definition site for q204 (K=16, 1 Lloyd
    * round), q208 (K=256-capable, 2 rounds) and the q206 artifact
    * builder. Coarse 16-cell integer-L2 quantizer (cells = vec_ids
    * 0..15 Lloyd-trained `coarseRounds` deep, see [[coarseCells]])
    * partitions the corpus into inverted lists; residuals =
    * vector - coarse centroid + 2^24 (residuals are NEGATIVE and Spark
    * `div` truncates toward zero where DuckDB `//` floors — the offset
    * keeps every mean input non-negative and cancels in all
    * distances); the per-subspace residual PQ codebook seeds from
    * vec_ids 16..16+k (the coarse cells' OWN residuals are exactly
    * zero — seeding from them collapses the codebook; K adapts as
    * min(k, n-16) by construction) and refines through `rounds`
    * exact-integer Lloyd rounds (empty cells keep their previous
    * value). Returns (coarse (ccid, ccv), coarse assignment (vec_id,
    * ccid), residual codebook (m, cid, cv), residual assignment
    * (vec_id, m, cid)) — everything joins against broadcast
    * 16/(M x K)-row tables; corpus-side work is one coarse argmin, one
    * residual map, and one assign per round.
    */
  private[graft] def ivfadcTrain(
      s: SparkSession, dir: String, k: Int, rounds: Int, coarseRounds: Int = 2)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    ivfadcTrainIv(ivecs(s, dir), k, rounds, coarseRounds)

  /** [[ivfadcTrain]] over an explicit vector frame — the q210 streaming
    * family trains on the day-0 standing population only and freezes
    * the result, so the training input must be the caller's to filter.
    */
  private[graft] def ivfadcTrainIv(
      iv: DataFrame, k: Int, rounds: Int, coarseRounds: Int = 2)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // trained cells are a computed plan consumed three ways (coarse
    // assign, residual map, the caller's probe) — materialize once
    val cc = coarseCells(iv, coarseRounds).localCheckpoint(eager = false)
    val ca = coarseAssign(iv, cc)
    val rsub = residualSubs(iv, ca, cc)
    val seed = rsub
      .filter(col("vec_id") >= 16 && col("vec_id") < (16 + k))
      .select(col("m"), (col("vec_id") - 16L).as("cid"), col("sv").as("cv"))
    // the refined codebook feeds the final assign, the probe lookup
    // tables, and (q206) the artifact write — materialize once
    val cb = lloydRefine(rsub, seed, rounds).localCheckpoint(eager = false)
    (cc, ca, cb, lloydAssign(rsub, cb).select(col("vec_id"), col("m"), col("cid")))
  }

  /** The 16 coarse cells of a vector frame, Lloyd-TRAINED: seeds = the
    * frame's vec_ids < 16 (raw vectors — for the incremental family
    * the frame is the day-0 corpus, so arrivals can never shift the
    * cells), refined by `rounds` exact-integer Lloyd rounds over the
    * FULL 64-dim vectors — [[lloydRefine]] at M = 1, the same single
    * definition site as every residual codebook, so the floor-division
    * / (dist, cid) tie-break / empty-cell-coalesce invariants cannot
    * fork between the coarse and fine levels. MEASURED at sf0.01
    * (refuting the hypothesis that raw cells capped the probe
    * ceiling): the 2-probe ceiling does NOT move with training —
    * 52/60 raw, 49 at 1 round, 52 at 2, 49 at 3; on this isotropic
    * corpus true neighbors straddle list boundaries wherever the
    * cells sit (q211 gates the trained number cross-engine). What
    * training DOES buy is smaller residuals (cells move to population
    * means), i.e. finer residual quantization at the same code
    * budget: deep (K=256, 2-round) ADC conversion measured 25/60 ->
    * 31/60, re-ranked recall 51/60 (q208/q212). 2 rounds is the
    * adopted family default.
    */
  private def coarseCells(iv: DataFrame, rounds: Int): DataFrame = {
    val raw = iv
      .filter(col("vec_id") < 16)
      .select(col("vec_id").as("ccid"), col("iv").as("ccv"))
    if (rounds <= 0) raw
    else
      lloydRefine(
        iv.select(col("vec_id"), lit(0).as("m"), col("iv").as("sv")),
        raw.select(lit(0).as("m"), col("ccid").as("cid"), col("ccv").as("cv")),
        rounds)
        .select(col("cid").as("ccid"), col("cv").as("ccv"))
  }

  /** Coarse argmin assignment (vec_id, ccid) against the broadcast
    * cells — exact-integer L2, ties to the lower ccid ([[lloydAssign]]'s
    * tie rule, coarse edition; the oracle's wca mirrors both).
    */
  private def coarseAssign(iv: DataFrame, cc: DataFrame): DataFrame =
    iv.crossJoin(broadcast(cc))
      .withColumn("cd", graft.functions.VectorOps.l2sqLong(col("iv"), col("ccv")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cd"), col("ccid"))).as("b"))
      .select(col("vec_id"), col("b.ccid").as("ccid"))

  /** Residual subvector rows (vec_id, ccid, m, sv) under assignment
    * `ca`: residual = vector - centroid + 2^24 (residuals are NEGATIVE
    * and Spark `div` truncates toward zero where DuckDB `//` floors —
    * the offset keeps every mean input non-negative and cancels in all
    * distances). The residual frame is checkpointed: every consumer
    * (seeds, each Lloyd round, final assign) re-reads it.
    */
  private def residualSubs(iv: DataFrame, ca: DataFrame, cc: DataFrame): DataFrame = {
    val rv = ca
      .join(iv, "vec_id")
      .join(broadcast(cc), "ccid")
      .select(
        col("vec_id"), col("ccid"),
        expr("zip_with(iv, ccv, (a, b) -> a - b + 16777216L)").as("rv"))
      .localCheckpoint(eager = false)
    rv.select(
        col("vec_id"), col("ccid"),
        explode(expr("transform(sequence(0, 7), " +
          "m -> named_struct('m', m, 'sv', slice(rv, m * 8 + 1, 8)))")).as("x"))
      .select(col("vec_id"), col("ccid"), col("x.m").as("m"), col("x.sv").as("sv"))
  }

  /** FROZEN-codebook IVFADC encode — (vec_id, ccid, m, cid) of `iv`
    * against an already-trained coarse quantizer + residual codebook,
    * with zero training: the q210 streaming appends run this per
    * micro-batch on the arrivals, against the day-0 artifacts read
    * back from disk. Same argmin/tie/offset invariants as training's
    * own final assign, by construction (shared helpers).
    */
  private[graft] def ivfadcEncode(iv: DataFrame, cc: DataFrame, cb: DataFrame): DataFrame = {
    val ca = coarseAssign(iv, cc)
    lloydAssign(residualSubs(iv, ca, cc), cb)
      .join(ca, "vec_id")
      .select(col("vec_id"), col("ccid"), col("m"), col("cid"))
  }

  /** Pack a per-subspace assignment (vec_id, ccid, m, cid) into the
    * 4-bit x 8 non-negative BIGINT code — the q206 artifact format and
    * the q210 append rows; [[unpackCodes]] is its exact inverse. Guard:
    * a cid outside [0, 16) — e.g. a DEEP (K=256) assignment wired here
    * instead of the hex packing — would silently corrupt codes, so it
    * fails the job loudly instead (one comparison per row).
    */
  private[graft] def packCodes(enc: DataFrame): DataFrame =
    enc
      .groupBy(col("vec_id"), col("ccid"))
      .agg(expr(
        "CAST(sum((CASE WHEN cid >= 0 AND cid < 16 THEN cid ELSE " +
          "CAST(raise_error(concat('packCodes: cid ', CAST(cid AS STRING), " +
          "' outside the 4-bit range — use the K=256-capable hex packing')) AS BIGINT) END) " +
          "* shiftleft(CAST(1 AS BIGINT), 4 * m)) AS BIGINT)").as("code"))

  /** Unpack (vec_id, ccid, code) artifact rows back to (vec_id, ccid,
    * m, cid) — integer div/mod on non-negative codes, so Spark div ==
    * DuckDB //.
    */
  private[graft] def unpackCodes(codes: DataFrame): DataFrame =
    codes
      .select(
        col("vec_id"), col("ccid"),
        explode(expr("transform(sequence(0, 7), m -> named_struct('m', m, " +
          "'cid', (code div shiftleft(CAST(1 AS BIGINT), 4 * m)) % 16))")).as("x"))
      .select(col("vec_id"), col("ccid"), col("x.m").as("m"), col("x.cid").as("cid"))

  /** The K=256-capable packing: (vec_id, ccid, m, cid) -> one 16-char
    * hex string, 8 cells x %02x in subspace order — q207's established
    * spelling (4-bit arithmetic packing cannot hold cid 255 x 8 slots
    * in a signed BIGINT without sign traps; hex is byte-identical
    * across engines). The DEEP persisted index's code format (8 bytes
    * of information per vector); [[unpackCodesHex]] is its exact
    * inverse.
    */
  private[graft] def packCodesHex(enc: DataFrame): DataFrame =
    enc
      .groupBy(col("vec_id"), col("ccid"))
      .agg(expr("concat_ws('', transform(array_sort(collect_list(struct(m, cid))), " +
        "p -> format_string('%02x', p.cid)))").as("code_hex"))

  /** Unpack (vec_id, ccid, code_hex) deep-artifact rows back to
    * (vec_id, ccid, m, cid) — fixed-width substring + base-16 parse.
    */
  private[graft] def unpackCodesHex(codes: DataFrame): DataFrame =
    codes
      .select(
        col("vec_id"), col("ccid"),
        explode(expr("transform(sequence(0, 7), m -> named_struct('m', m, " +
          "'cid', CAST(conv(substring(code_hex, m * 2 + 1, 2), 16, 10) AS BIGINT)))")).as("x"))
      .select(col("vec_id"), col("ccid"), col("x.m").as("m"), col("x.cid").as("cid"))

  /** The ADC scoring core of the probe path: each query ranks all
    * coarse cells by exact integer L2, keeps its `nprobe` nearest,
    * precomputes a PER-PROBE residual M x K lookup table against the
    * broadcast codebook, and scores the probed lists' members by 8
    * table lookups each. Returns (qid, vec_id, ad, prn) where `prn`
    * is the candidate's list's probe rank for that query — the knob
    * the q217 operating curve sweeps (a candidate lives in exactly one
    * list, so prn is unique per (qid, vec_id); the min() in the
    * aggregate just reads it back). `q` = (qid, qiv); `codes` =
    * (vec_id, ccid, m, cid).
    */
  private[graft] def ivfadcScores(
      q: DataFrame, cc: DataFrame, cb: DataFrame, codes: DataFrame,
      nprobe: Int = 2): DataFrame = {
    val probes = probeCells(q, cc, nprobe)
      .select(
        col("qid"), col("ccid"), col("prn"),
        expr("zip_with(qiv, ccv, (a, b) -> a - b + 16777216L)").as("qrv"))
    val qsubs = probes
      .select(
        col("qid"), col("ccid"), col("prn"),
        explode(expr("transform(sequence(0, 7), " +
          "m -> named_struct('m', m, 'qsv', slice(qrv, m * 8 + 1, 8)))")).as("x"))
      .select(col("qid"), col("ccid"), col("prn"), col("x.m").as("m"), col("x.qsv").as("qsv"))
    val pdt = qsubs
      .join(broadcast(cb), Seq("m"))
      .select(
        col("qid"), col("ccid"), col("prn"), col("m"), col("cid"),
        graft.functions.VectorOps.l2sqLong(col("qsv"), col("cv")).as("pd"))
    codes
      .join(broadcast(pdt), Seq("ccid", "m", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pd")).as("ad"), min(col("prn")).as("prn"))
  }

  /** Each query's `nprobe` nearest coarse cells — (qid, ccid, prn) with
    * qiv/ccv still in scope: exact integer L2 against the broadcast
    * cells, rank ties to the lower ccid. THE one spelling of probe
    * selection — [[ivfadcScores]] derives its residual tables from it
    * and [[probedCcids]] its pushed-literal set, so the scan pruning
    * can never probe different lists than the scorer.
    */
  private def probeCells(q: DataFrame, cc: DataFrame, nprobe: Int): DataFrame = {
    val wP = Window.partitionBy(col("qid")).orderBy(col("qd"), col("ccid"))
    q.crossJoin(broadcast(cc))
      .withColumn("qd", graft.functions.VectorOps.l2sqLong(col("qiv"), col("ccv")))
      .withColumn("prn", row_number().over(wP))
      .filter(col("prn") <= nprobe)
  }

  /** The UNION of the query batch's probed cell ids as DRIVER-SIDE
    * literals — the bounded fetch that turns the probe's inverted-list
    * restriction into a predicate the Parquet scan can actually use.
    * Bounded by the index GEOMETRY, not the corpus: <= min(|cells|,
    * nprobe x |Q|) values (16 at most here), fetched as ONE single-row
    * aggregate `.head()` — the `DedupOps.sig()` precedent for a
    * documented scalar driver fetch. The round-12 finding this exists
    * to close: a restriction expressed only as a BroadcastHashJoin
    * condition sits ABOVE the x8 unpack-explode and prunes nothing at
    * the scan (the executed plan showed PushedFilters [IsNotNull]
    * only), so every probe paid a full codes-artifact read.
    */
  private[graft] def probedCcids(q: DataFrame, cc: DataFrame, nprobe: Int): Seq[Long] = {
    // the fetch is BIGINT-typed by construction everywhere, but getSeq
    // would silently mis-read a refactor that changed the ccid type —
    // assert it where the literal set is pulled (round-13 ADVICE)
    require(
      cc.schema("ccid").dataType == org.apache.spark.sql.types.LongType,
      s"probedCcids: ccid must be BIGINT, got ${cc.schema("ccid").dataType}")
    probeCells(q, cc, nprobe)
      .agg(sort_array(collect_set(col("ccid"))).as("cs"))
      .head()
      .getSeq[Long](0)
  }

  /** Per-process cache of [[probedCcids]] keyed on (query-batch
    * IDENTITY, artifact root, nprobe): the streaming families (q214/
    * q219/q223 and the CDC serve) probe the SAME checkpointed query
    * frame once per micro-batch, and without the cache each probe pays
    * an extra driver-side Spark job to re-fetch a set that cannot have
    * changed (the coarse cells are frozen at training time; the probed
    * set is a pure function of (queries, cells, nprobe)). Keys hold the
    * query frame by IDENTITY, not equality — a new request batch is a
    * new frame and computes fresh. identityHashCode collisions are
    * disambiguated by verifying the stored reference with `eq` before
    * trusting a hit. The frame itself is held via WEAK reference —
    * entries must never pin an abandoned frame's plan/lineage (or its
    * checkpoint blocks) in a long-lived serving process that creates
    * one frame per request; a cleared reference is just a recompute,
    * the same soundness as the `eq` check. Bounded LRU (64) caps the
    * (tiny) entry metadata too.
    */
  private val probedCcidCache =
    new java.util.LinkedHashMap[
      (Int, String, Int), (java.lang.ref.WeakReference[AnyRef], Seq[Long])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[
            (Int, String, Int), (java.lang.ref.WeakReference[AnyRef], Seq[Long])]): Boolean =
        size > 64
    }

  private def probedCcidsCached(
      q: DataFrame, root: String, cc: DataFrame, nprobe: Int): Seq[Long] =
    probedCcidCache.synchronized {
      val key = (System.identityHashCode(q), root, nprobe)
      probedCcidCache.get(key) match {
        case (ref, cs) if ref.get eq q => cs
        case _ =>
          val cs = probedCcids(q, cc, nprobe)
          probedCcidCache.put(key, (new java.lang.ref.WeakReference[AnyRef](q), cs)): Unit
          cs
      }
    }

  /** The IVFADC PROBE path — one definition site for q204/q208 (inline
    * -trained index) and the artifact families (via
    * [[ivfadcProbeIndex]]): `nprobe` probed cells ([[ivfadcScores]]),
    * per-query top-N by (ad, vec_id). Returns (qid, rn, vec_id, ad).
    */
  private[graft] def ivfadcProbe(
      q: DataFrame, cc: DataFrame, cb: DataFrame, codes: DataFrame,
      topN: Int = 3, nprobe: Int = 2,
      scoreFilter: DataFrame => DataFrame = identity): DataFrame = {
    val wA = Window.partitionBy(col("qid")).orderBy(col("ad"), col("vec_id"))
    scoreFilter(ivfadcScores(q, cc, cb, codes, nprobe))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= topN)
      .select(col("qid"), col("rn").cast("long").as("rn"), col("vec_id"), col("ad"))
  }

  /** PROBE-ONLY serving read of a [[writeIvfAdcArtifacts]] layout — the
    * one definition site every artifact consumer probes through (q206/
    * q213/q215/q216 and the streaming append families q210/q214): loads
    * the frozen quantizers, restricts the PACKED codes to the probed
    * inverted lists with a LITERAL `ccid IN (...)` filter ([[probedCcids]])
    * so the predicate reaches the Parquet scan and the ccid-range-
    * clustered TieredIndex segments row-group-prune to the probed lists
    * BEFORE the x8 unpack-explode — at 100x corpus scale the probe
    * reads nprobe/|cells| of the artifact instead of all of it (the
    * round-12 weak flag; PlanShapeSpec pins the pushed predicate).
    * Unpacking dispatches on k exactly as the writer packs (<= 16:
    * 4-bit BIGINT; else hex). `where` is the FILTERED-search predicate
    * (FAISS IDSelector): applied to the packed rows INSIDE the probed
    * lists, before the x8 unpack and before the top-N — so the top-N
    * are the best predicate SURVIVORS (in-scan filtering), never a
    * post-hoc filter of an unconstrained top-N that could return fewer
    * than N rows under a tight filter.
    */
  private[graft] def ivfadcProbeIndex(
      s: SparkSession, root: String, q: DataFrame, k: Int,
      topN: Int = 3, nprobe: Int = 2, where: Option[Column] = None,
      scoreFilter: DataFrame => DataFrame = identity,
      asOf: Option[Long] = None): DataFrame = {
    val cc = s.read.parquet(s"$root/coarse")
    val cb = s.read.parquet(s"$root/codebook")
    // the probed set is cached per (query-batch identity, root, nprobe):
    // the streaming families re-probe the same checkpointed frame every
    // micro-batch, and the set is a pure function of frozen inputs
    // (cells are immutable once trained, so the cache is also
    // asOf-independent — time travel changes the codes population,
    // never which lists a query opens)
    val codesTable = asOf match {
      case None => graft.operators.TieredIndex.read(s, s"$root/codes")
      case Some(b) => graft.operators.TieredIndex.readAsOf(s, s"$root/codes", b)
    }
    val packed = codesTable
      .filter(col("ccid").isin(probedCcidsCached(q, root, cc, nprobe): _*))
    val scoped = where.fold(packed)(packed.filter)
    val codes = if (k <= 16) unpackCodes(scoped) else unpackCodesHex(scoped)
    ivfadcProbe(q, cc, cb, codes, topN, nprobe, scoreFilter)
  }

  /** The COMPLETE two-stage serving request against a persisted
    * artifact — ADC stage ([[ivfadcProbeIndex]], top-16 candidates from
    * the probed lists) + refine stage (exact integer L2 of JUST those
    * candidates against the original vectors `iv`, broadcast fetch,
    * never a list re-scan) -> positioned top-3 WITH the exact distance:
    * (qid, rn, vec_id, d). ONE definition site for the batch serve
    * (q216) and the per-micro-batch query-stream serve (q218), so the
    * two execution shapes cannot drift. `where` makes it the FILTERED
    * serve (q224): the ADC stage keeps the top-16 among predicate
    * SURVIVORS (in-scan filtering — the candidate set never starves
    * under a tight filter the way post-filtering an unconstrained
    * top-16 would), and the refine stage re-ranks exactly those.
    * `scoreFilter` is the PER-QUERY analogue (q231): a transform of
    * the pre-rank (qid, vec_id, ad) score frame for predicates that
    * depend on the query row itself (label-aware negative mining,
    * per-tenant exclusions) — applied, like `where`, BEFORE the
    * top-16 rank so the ADC stage keeps the best SURVIVORS.
    * `candN`/`topN` size the two stages (defaults: 16-candidate ADC
    * stage, top-3 page) — consumers that need a deeper served page
    * (q244's 20-row fusion leg, q245's graded top-10) widen both; the
    * ADC stage must stay >= the page or the refine starves.
    *
    * EAGER AND POINT-IN-TIME: the call runs the ADC stage and collects
    * the candidates when the frame is BUILT, not when it executes — the
    * returned frame re-ranks that fixed candidate set, so it never sees
    * a later codes commit. Build it per request: under a live stream,
    * once per batch, after [[graft.operators.TieredIndex.fenceAligned]].
    */
  private[graft] def ivfadcServe(
      s: SparkSession, root: String, q: DataFrame, iv: DataFrame, k: Int,
      nprobe: Int = 2, where: Option[Column] = None,
      scoreFilter: DataFrame => DataFrame = identity,
      candN: Int = 16, topN: Int = 3, asOf: Option[Long] = None): DataFrame = {
    // asOf threads straight to the codes snapshot resolve: a
    // time-travel SERVE is the same two-stage request against a
    // historical code population (quantizers are per-generation
    // artifacts — the CALLER resolves which generation's root to
    // serve from; q256 pairs Generations.resolveAsOf with this)
    //
    // The candidate set is BOUNDED BY THE REQUEST GEOMETRY (<= |q| x
    // candN rows — 640 at the widest gated request), so it is pulled
    // to the driver as ONE 1-row aggregate (the probedCcids/termsLiteral
    // precedent, never a data collect) and re-attached two ways: as a
    // LITERAL candidate relation for the refine join, and as a pushed
    // `vec_id IN (...)` predicate on the vector fetch — the refine
    // stage previously joined broadcast(cand) against the FULL `iv`
    // frame, the one remaining corpus-sized scan per serving request
    // (a join restriction never reaches the scan; the pushed literal
    // row-group-prunes it). This is the classic candidates->fetch
    // execution of a production ANN server; the rows are identical
    // (the join kept exactly these ids either way).
    val candPairs = ivfadcProbeIndex(
      s, root, q, k, topN = candN, nprobe = nprobe, where = where,
      scoreFilter = scoreFilter, asOf = asOf)
      .agg(sort_array(collect_set(struct(col("qid"), col("vec_id")))).as("ps"))
      .head()
      .getSeq[org.apache.spark.sql.Row](0)
    val candSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "qid", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField(
        "vec_id", org.apache.spark.sql.types.LongType, nullable = false)))
    val cand = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        candPairs.map(r =>
          org.apache.spark.sql.Row(r.getLong(0), r.getLong(1))
            : org.apache.spark.sql.Row).asJava),
      candSchema)
    val ids = candPairs.map(_.getLong(1)).distinct.sorted
    val ivPruned =
      if (ids.isEmpty) iv.filter(lit(false))
      else iv.filter(col("vec_id").isin(ids: _*))
    exactRerank(cand, q, ivPruned, topN)
  }

  /** The q226/q228 TRAINING-SAMPLE membership, Spark spelling: the
    * seed ids (vec_id < 16 + 256 — both quantizers anchor on them; a
    * sample that thinned the seed range would silently shrink K) plus
    * every vec_id whose keyed md5 digest starts below '4' (~25% of the
    * rest — the q69 deterministic stable-sample convention, identical
    * in both engines). A def and a pure function of vec_id, so the
    * oracle's [[sampledTrainWhereSql]] replays the exact membership.
    */
  private[graft] def sampledTrainCol: Column =
    col("vec_id") < 272 ||
      md5(concat(lit("trn|"), col("vec_id").cast("string"))) < "4"

  /** [[sampledTrainCol]]'s DuckDB mirror — ONE definition site for the
    * q226 (batch) and q228 (streaming day-0) oracles.
    */
  private[graft] def sampledTrainWhereSql: String =
    "vec_id < 272 OR md5('trn|' || CAST(vec_id AS VARCHAR)) < '4'"

  /** The fixed-20-query BRUTE-FORCE exact top-3 (qid, vec_id) — the
    * labeled recall baseline every ANN ledger compares against (q204/
    * q208/q211/q212/q217/q220): exact integer L2 of the broadcast
    * query batch against the full corpus, ties to the lower vec_id.
    * ONE definition site so the baseline cannot drift between ledgers
    * (it was previously spelled inline at each).
    */
  private def bruteTop3(q: DataFrame, iv: DataFrame): DataFrame = {
    val wB = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
    broadcast(q)
      .join(iv, col("qid") =!= col("vec_id"))
      .select(
        col("qid"), col("vec_id"),
        graft.functions.VectorOps.l2sqLong(col("qiv"), col("iv")).as("d"))
      .withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"))
  }

  /** EXACT-L2 RE-RANK of a bounded candidate set (qid, vec_id) — the
    * refine stage (FAISS IndexRefine): broadcast the candidates into
    * ONE corpus scan to fetch original vectors, rank by exact integer
    * L2 with (d, vec_id) ties, keep top-N. Returns (qid, rn, vec_id,
    * d); recall consumers project (qid, vec_id). ONE definition site
    * for q212 (inline ledger), q220 (every curve point), and
    * [[ivfadcServe]] (q216/q218/q221) — the refine spelling cannot
    * drift between the ledger and the serving path (PqSpec pins
    * curve@2 == q212 per query, and the gate pins q216 == q218).
    */
  private def exactRerank(
      cand: DataFrame, q: DataFrame, iv: DataFrame, topN: Int = 3): DataFrame = {
    val wR = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
    broadcast(cand)
      .join(iv, "vec_id")
      .join(broadcast(q), "qid")
      .select(
        col("qid"), col("vec_id"),
        graft.functions.VectorOps.l2sqLong(col("qiv"), col("iv")).as("d"))
      .withColumn("rn", row_number().over(wR).cast("long"))
      .filter(col("rn") <= topN)
      .select(col("qid"), col("rn"), col("vec_id"), col("d"))
  }

  /** Write the complete IVFADC artifact set for a trained (k, rounds)
    * system over vector frame `iv` into `root`: `coarse/` (ccid, ccv)
    * and `codebook/` (m, cid, cv) as plain parquet (quantizers are
    * immutable once frozen — rebuild-only), and `codes/` as a
    * base-only TIERED INDEX clustered on (ccid, vec_id) — the codes
    * table IS the inverted lists (a probe's membership read
    * stats-prunes to its 2 lists), and because it is a TieredIndex
    * rather than a static parquet dir, the SAME built index accepts
    * q210's exactly-once streaming appends and size-aware maintenance
    * with no rebuild (one storage engine for both lifecycles; file
    * counts are the index policy's, bytes-derived on compaction).
    * Shallow (k <= 16) systems pack 4-bit BIGINT codes; deep systems
    * the K=256-capable hex spelling.
    *
    * `trainIv` (SAMPLED TRAINING, q226/q228): when given, the
    * quantizers — coarse cells, every Lloyd round's aggregates, the
    * residual codebook — fit on `trainIv` ONLY, and the full `iv` is
    * then FROZEN-ENCODED against them (ivfadcEncode: the same argmin/
    * tie/offset invariants as training's own final assign, by shared
    * helpers). This is the one corpus-proportional build cost cut: the
    * two full-corpus Lloyd passes become two sample passes + one
    * full-corpus encode pass. The sample must contain the seed ids
    * (vec_id < 16 + k) or K silently shrinks.
    */
  private[graft] def writeIvfAdcArtifacts(
      s: SparkSession, root: String, iv: DataFrame, k: Int, rounds: Int,
      trainIv: Option[DataFrame] = None, seedBatch: Long = -1L,
      seedDeleteBatch: Long = -1L): Unit = {
    val (cc, ca, cb, a2) = ivfadcTrainIv(trainIv.getOrElse(iv), k, rounds)
    cc.coalesce(1).write.parquet(s"$root/coarse")
    cb.coalesce(1).write.parquet(s"$root/codebook")
    val enc = trainIv match {
      case None => a2.join(ca, "vec_id")
      case Some(_) => ivfadcEncode(iv, cc, cb)
    }
    // seedBatch/seedDeleteBatch: a mid-stream REBUILD (q253's retrain)
    // folds data from batches <= seedBatch into the fresh codes index
    // — seed its watermarks so exactly-once survives the generation
    // swap on BOTH mutation kinds (a CDC batch that also deleted or
    // upserted would otherwise re-issue its tombstone on replay —
    // q260's retract+retrain composition)
    graft.operators.TieredIndex.create(
      s, s"$root/codes",
      if (k <= 16) packCodes(enc) else packCodesHex(enc),
      4, Seq(col("ccid"), col("vec_id")), seedBatch = seedBatch,
      seedDeleteBatch = seedDeleteBatch)
  }

  /** Build-once persisted IVFADC index (q206 at (16, 1), q213 at
    * (256, 2)): trains the system and commits the [[writeIvfAdcArtifacts]]
    * layout under one directory. The COMPLETE marker is written LAST —
    * the pointer-commit discipline: a crashed build leaves no
    * half-index a reader could resolve, and the next call rebuilds
    * from scratch. Idempotent per (process, sf-dir, k, rounds): repeat
    * calls — bench passes, probe-many workloads — return the existing
    * artifact untouched (the cache key carries BOTH training
    * parameters, so a (256, 0) caller can never resolve a (256, 2)
    * artifact).
    */
  private[graft] def buildIvfAdcIndex(
      s: SparkSession, dir: String, k: Int = 16, rounds: Int = 1): String = {
    val root = graft.Engine.scratchDir(s"annidx${k}_$rounds", dir)
    val done = new java.io.File(root, "COMPLETE")
    if (!done.exists) {
      graft.Engine.deleteRecursively(root)
      writeIvfAdcArtifacts(s, root.toString, ivecs(s, dir), k, rounds)
      done.createNewFile(): Unit
    }
    root.toString
  }

  /** DuckDB replay of [[ivfadcTrain]] + the probe path at (k, rounds) —
    * the chain ends at `wadc` (qid, vec_id, ad), with `t` (integer
    * vectors) and `wq` (the query batch) still in scope for recall
    * consumers. ONE definition site for q204 (16, 1), q206 (16, 1 —
    * the artifact gate replays train+probe inline, proving the
    * write -> read -> unpack round-trip loses nothing) and q208
    * (256, 2). MATERIALIZED on the multiply-referenced CTEs (wca,
    * wsub, per-round codebooks) — the q196 lesson: default inlining
    * re-expands iterative chains exponentially. A def — `entries`
    * oracle strings interpolate eagerly.
    */
  /** `steps` Lloyd-round CTE triples (assign/means/codebook) over
    * subvector rows `sub`, seeded from `seed`, CTE names prefixed
    * `aP/mP/cP` — THE one DuckDB spelling of the refinement round
    * ([[lloydRefine]]'s mirror), shared by [[ivfadcSql]] (wa/wm/wc)
    * and [[pqDeepSql]] (pa/pm/pb) so the floor-division, (dist, cid)
    * tie-break, and empty-cell-coalesce invariants cannot fork.
    */
  private def lloydRoundCtesSql(
      steps: Int, sub: String, seed: String, aP: String, mP: String, cP: String): String =
    (1 to steps).map { r =>
      val prev = if (r == 1) seed else s"$cP${r - 1}"
      s"""$aP$r AS (SELECT vec_id, m, cid,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk
               FROM (SELECT s.vec_id, s.m, c.cid,
                   list_sum(list_transform(generate_series(1, len(s.sv)),
                     j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))) AS dist
                 FROM $sub s JOIN $prev c ON s.m = c.m)),
             $mP$r AS (SELECT a.m, a.cid, u.pos, CAST(sum(u.v) // count(*) AS BIGINT) AS mn
               FROM $aP$r a JOIN $sub s ON a.vec_id = s.vec_id AND a.m = s.m,
                 LATERAL (SELECT unnest(s.sv) AS v,
                   unnest(generate_series(1, len(s.sv))) AS pos) u
               WHERE a.rk = 1 GROUP BY a.m, a.cid, u.pos),
             $cP$r AS MATERIALIZED (SELECT $prev.m, $prev.cid, coalesce(x.nv, $prev.cv) AS cv
               FROM $prev LEFT JOIN (
                 SELECT m, cid, list(mn ORDER BY pos) AS nv FROM $mP$r GROUP BY m, cid) x
                 ON $prev.m = x.m AND $prev.cid = x.cid)"""
    }.mkString(",\n             ")

  /** The final assignment CTE against the refined codebook `cb` —
    * rk=1 rows are (vec_id, m, cid, dist); [[lloydAssign]]'s mirror.
    */
  private def lloydFinalAssignSql(name: String, sub: String, cb: String): String =
    s"""$name AS (SELECT vec_id, m, cid, dist,
                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cid) AS rk
               FROM (SELECT s.vec_id, s.m, c.cid,
                   list_sum(list_transform(generate_series(1, len(s.sv)),
                     j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))) AS dist
                 FROM $sub s JOIN $cb c ON s.m = c.m))"""

  /** `trainWhere` (optional, a predicate on vec_id) restricts the
    * TRAINING population — coarse cells, PQ seeds, and every Lloyd
    * round aggregate over it — while the frozen-codebook encode (wfa),
    * the coarse assignment (wca), and the probe chain still cover ALL
    * vectors: q210's incremental contract (day-0 trains, arrivals only
    * encode). Empty = train on everything (q204/q206/q208).
    */
  /** The shared PREFIX of every coarse-quantizer oracle: integer
    * vectors `t`, the trained coarse cells `wcc` (raw vec_ids 0..15 at
    * coarseRounds = 0, else the cells Lloyd-refined over the full
    * vectors as ONE m = 0 subspace via the shared round fragment — the
    * [[coarseCells]] mirror, so the two levels cannot fork), the
    * corpus-wide coarse assignment `wca`, the query batch `wq`, and
    * each query's 2 probed cells `wpr`. The training population is the
    * coarse level's too (gsub carries trainWhere — q210's day-0
    * contract). One definition site for [[ivfadcSql]] (the full ADC
    * chain) and q211 (the probe-ceiling ledger).
    */
  private def ivfCoarseSql(
      trainWhere: String, coarseRounds: Int, nprobe: Int = 2,
      p: String = "", lead: Boolean = true, tSrc: String = "embeddings"): String = {
    val ccWhere =
      if (trainWhere.isEmpty) "vec_id < 16" else s"vec_id < 16 AND ($trainWhere)"
    val csubWhere = if (trainWhere.isEmpty) "" else s" WHERE $trainWhere"
    val coarseCtes =
      if (coarseRounds <= 0)
        s"${p}wcc AS (SELECT vec_id AS ccid, iv AS ccv FROM ${p}t WHERE $ccWhere)"
      else
        s"""${p}gsub AS MATERIALIZED (SELECT vec_id, 0 AS m, iv AS sv FROM ${p}t$csubWhere),
             ${p}gini AS (SELECT 0 AS m, vec_id AS cid, iv AS cv FROM ${p}t WHERE $ccWhere),
             ${lloydRoundCtesSql(
            coarseRounds, s"${p}gsub", s"${p}gini", s"${p}ga", s"${p}gm", s"${p}gc")},
             ${p}wcc AS MATERIALIZED (SELECT cid AS ccid, cv AS ccv FROM ${p}gc$coarseRounds)"""
    s"""${if (lead) "WITH " else ""}${p}t AS (
               SELECT vec_id, list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 16777216) AS iv
               FROM $tSrc),
             $coarseCtes,
             ${p}wca AS MATERIALIZED (SELECT vec_id, ccid FROM (
                 SELECT t.vec_id, c.ccid,
                   row_number() OVER (PARTITION BY t.vec_id ORDER BY
                     list_sum(list_transform(generate_series(1, len(t.iv)),
                       j -> (t.iv[j] - c.ccv[j]) * (t.iv[j] - c.ccv[j]))), c.ccid) AS rk
                 FROM ${p}t t CROSS JOIN ${p}wcc c) WHERE rk = 1),
             ${p}wq AS (SELECT vec_id AS qid, iv AS qiv FROM ${p}t WHERE vec_id < 20),
             ${p}wpr AS (SELECT qid, ccid, qiv, prn FROM (
                 SELECT q.qid, c.ccid, q.qiv,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                     list_sum(list_transform(generate_series(1, len(q.qiv)),
                       j -> (q.qiv[j] - c.ccv[j]) * (q.qiv[j] - c.ccv[j]))), c.ccid) AS prn
                 FROM ${p}wq q CROSS JOIN ${p}wcc c) WHERE prn <= $nprobe)"""
  }

  /** `p` prefixes every CTE name so TWO complete chains can coexist
    * in ONE oracle — the cross-generation gates need a BLUE and a
    * GREEN quantizer chain side by side (q256 time-travels across the
    * q253 swap; q257 retrains mid-hybrid), and the upsert gate (q258)
    * needs the original and the updated corpus chains. `lead` drops
    * the `WITH ` keyword for non-first chains; `tSrc` points the
    * integer-vector CTE at an updated-corpus relation. Defaults keep
    * every pre-round-16 oracle's text semantics unchanged.
    */
  private[graft] def ivfadcSql(
      k: Int, rounds: Int, trainWhere: String = "", coarseRounds: Int = 2,
      nprobe: Int = 2, p: String = "", lead: Boolean = true,
      tSrc: String = "embeddings"): String = {
    val trainSub = if (trainWhere.isEmpty) s"${p}wsub" else s"${p}wsubt"
    val roundCtes =
      lloydRoundCtesSql(rounds, trainSub, s"${p}wini", s"${p}wa", s"${p}wm", s"${p}wc")
    val fin = s"${p}wc$rounds"
    val subtCte =
      if (trainWhere.isEmpty) ""
      else s"${p}wsubt AS MATERIALIZED (SELECT * FROM ${p}wsub WHERE $trainWhere),\n             "
    s"""${ivfCoarseSql(trainWhere, coarseRounds, nprobe, p, lead, tSrc)},
             ${p}wrv AS (SELECT a.vec_id, a.ccid,
                 list_transform(generate_series(1, len(t.iv)),
                   j -> t.iv[j] - c.ccv[j] + 16777216) AS rv
               FROM ${p}wca a JOIN ${p}t t ON a.vec_id = t.vec_id
               JOIN ${p}wcc c ON a.ccid = c.ccid),
             ${p}wsub AS MATERIALIZED (SELECT vec_id, ccid, mm.m,
                 list_slice(rv, mm.m * 8 + 1, mm.m * 8 + 8) AS sv
               FROM ${p}wrv, (SELECT unnest(generate_series(0, 7)) AS m) mm),
             $subtCte${p}wini AS (SELECT m, vec_id - 16 AS cid, sv AS cv
               FROM $trainSub WHERE vec_id >= 16 AND vec_id < ${16 + k}),
             $roundCtes,
             ${lloydFinalAssignSql(s"${p}wfa", s"${p}wsub", fin)},
             ${p}wqr AS (SELECT p.qid, p.ccid,
                 list_transform(generate_series(1, len(p.qiv)),
                   j -> p.qiv[j] - c.ccv[j] + 16777216) AS qrv
               FROM ${p}wpr p JOIN ${p}wcc c ON p.ccid = c.ccid),
             ${p}wqs AS (SELECT qid, ccid, mm.m,
                 list_slice(qrv, mm.m * 8 + 1, mm.m * 8 + 8) AS qsv
               FROM ${p}wqr, (SELECT unnest(generate_series(0, 7)) AS m) mm),
             ${p}wpd AS (SELECT q.qid, q.ccid, q.m, c.cid,
                 list_sum(list_transform(generate_series(1, len(q.qsv)),
                   j -> (q.qsv[j] - c.cv[j]) * (q.qsv[j] - c.cv[j]))) AS pd
               FROM ${p}wqs q JOIN $fin c ON q.m = c.m),
             ${p}wadc AS (SELECT p.qid, a.vec_id, CAST(sum(p.pd) AS BIGINT) AS ad
               FROM ${p}wfa a JOIN ${p}wca l ON a.vec_id = l.vec_id
               JOIN ${p}wpd p ON p.ccid = l.ccid AND p.m = a.m AND p.cid = a.cid
               WHERE a.rk = 1 AND p.qid <> a.vec_id
               GROUP BY p.qid, a.vec_id)"""
  }

  /** The q206 positioned-top-3 probe oracle — full-population (16, 1)
    * train + probe closed by the (qid, rn, vec_id, ad) SELECT. Shared
    * verbatim by q215 (a QUERY stream probing the same static
    * artifact answers each query identically to the batch probe —
    * same string object, zero drift). A def — eager interpolation
    * rule.
    */
  private[graft] def ivfadcProbeOracleSql: String =
    s"""${ivfadcSql(16, 1)}
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, ad FROM (
               SELECT qid, vec_id, ad,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wadc) r
             WHERE rn <= 3 ORDER BY qid, rn"""

  /** The q216 end-to-end serving oracle — deep (256, 2) train + probe,
    * ADC top-16 per query, exact-integer re-rank, positioned top-3
    * WITH the exact distance. Shared verbatim by q218 (the 4 staged
    * query micro-batches partition the same fixed 20-query contract,
    * so the union of per-batch two-stage serves must equal the batch
    * serve — same string object, zero drift), and at nprobe = 4 by
    * q221 (the q220-tuned operating point — same def, one argument).
    * `whereSql` makes it the FILTERED serve's oracle (q224): the same
    * predicate the engine applies in-scan restricts wadc before the
    * top-16 rank — candidates are the best predicate survivors on both
    * sides. `trainWhere` makes it the SAMPLED-TRAINING serve's oracle
    * (q226): quantizers fit on the sample, encode/probe still cover
    * everything (q210's day-0 contract, applied to training cost).
    * A def — eager interpolation rule.
    */
  private[graft] def ivfadcServeOracleSql(
      nprobe: Int = 2, whereSql: String = "", trainWhere: String = ""): String =
    s"""${ivfadcServeCtesSql(nprobe = nprobe, whereSql = whereSql, trainWhere = trainWhere)}
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, CAST(d AS BIGINT) AS d
             FROM wsrv WHERE rn <= 3 ORDER BY qid, rn"""

  /** The two-stage serve chain as COMPOSABLE CTEs (starts at `WITH`,
    * ends at `wsrv` = (qid, vec_id, d, rn) — every re-ranked candidate
    * with its served position), so consumers that keep computing after
    * the serve can chain on: q244 fuses the served top-20 with a BM25
    * leg, q245 grades the served top-10 with MRR/nDCG. `candN` sizes
    * the ADC candidate stage ([[ivfadcServe]]'s mirror); k/rounds/
    * nprobe/whereSql/trainWhere exactly as [[ivfadcSql]]. A def —
    * eager interpolation rule.
    */
  private[graft] def ivfadcServeCtesSql(
      k: Int = 256, rounds: Int = 2, nprobe: Int = 2, candN: Int = 16,
      whereSql: String = "", trainWhere: String = "", p: String = "",
      lead: Boolean = true, tSrc: String = "embeddings"): String =
    s"""${ivfadcSql(
        k, rounds, trainWhere = trainWhere, nprobe = nprobe, p = p,
        lead = lead, tSrc = tSrc)},
             ${p}wad16 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM ${p}wadc${if (whereSql.isEmpty) "" else s" WHERE $whereSql"})
               WHERE rn <= $candN),
             ${p}wrr AS (SELECT c.qid, c.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM ${p}wad16 c JOIN ${p}wq q ON c.qid = q.qid
               JOIN ${p}t x ON c.vec_id = x.vec_id),
             ${p}wsrv AS (SELECT qid, vec_id, d,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
               FROM ${p}wrr)"""

  /** q223's oracle — the DELETE symmetric of [[ivfadcStreamSearchOracleSql]]:
    * the deep (256, 2) full-population chain probed after every
    * retraction micro-batch. Batch b deletes the slice {vec_id % 5 ==
    * 0 AND (vec_id // 5) % 4 == b}, so after batch b the searchable
    * population is everything EXCEPT slices 0..b — q214's prefix
    * condition with the comparison flipped (`> b` vs `<= b`). ADC
    * distances are population-independent (nothing re-encodes on a
    * delete), so one wadc serves all four shrinking populations. A
    * def — eager interpolation rule.
    */
  private[graft] def ivfadcStreamDeleteOracleSql: String = {
    val perBatch = (0 until 4).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, qid, CAST(rn AS BIGINT) AS rn, vec_id, ad
             FROM (SELECT qid, vec_id, ad,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wadc WHERE vec_id % 5 <> 0 OR (vec_id // 5) % 4 > $b)
             WHERE rn <= 3"""
    }.mkString("\n             UNION ALL\n             ")
    s"""${ivfadcSql(256, 2)}
             $perBatch
             ORDER BY batch_id, qid, rn"""
  }

  /** q214's oracle (and, at (256, 2), q219's): the day-0-trained chain
    * (q210's contract) probed after EVERY micro-batch — for each batch
    * b, the searchable population is day-0 plus arrivals from batches
    * 0..b (arrival batch = (vec_id // 5) % 4, the deterministic staging
    * split), and the per-batch positioned top-3 must match the stream's
    * between-batch probes exactly. ADC distances are population-
    * independent (frozen encode), so one wadc serves all four
    * prefixes. Parameterized on the system depth — shallow (16, 1) for
    * q214, production (256, 2) for q219 — with everything else shared
    * to the character. `sampleWhere` (q228) further restricts the
    * TRAINING population to a deterministic sample of the day-0
    * standing population (encode and probe still cover everything).
    * A def — eager interpolation rule.
    */
  private[graft] def ivfadcStreamSearchOracleSql(
      k: Int = 16, rounds: Int = 1, sampleWhere: String = ""): String = {
    val trainWhere =
      if (sampleWhere.isEmpty) "vec_id % 5 <> 0"
      else s"vec_id % 5 <> 0 AND ($sampleWhere)"
    val perBatch = (0 until 4).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, qid, CAST(rn AS BIGINT) AS rn, vec_id, ad
             FROM (SELECT qid, vec_id, ad,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wadc WHERE vec_id % 5 <> 0 OR (vec_id // 5) % 4 <= $b)
             WHERE rn <= 3"""
    }.mkString("\n             UNION ALL\n             ")
    s"""${ivfadcSql(k, rounds, trainWhere = trainWhere)}
             $perBatch
             ORDER BY batch_id, qid, rn"""
  }

  /** q227's oracle — the FULL PRODUCTION LOOP gate: the deep (256, 2)
    * day-0-trained chain (standing population `vec_id % 5 <> 0` trains
    * and freezes; the frozen encode covers every vector) two-stage
    * served after each CDC micro-batch b that BOTH appends arrival
    * slice b (vec_id % 5 = 0, mod-4 split) AND retracts standing slice
    * b (vec_id % 5 = 1, mod-4 split). The searchable population after
    * batch b is therefore day-0 minus retractions <= b plus arrivals
    * <= b — the q214 prefix condition and the q223 shrink condition
    * COMPOSED. ADC distances are population-independent (frozen
    * encode; deletes never re-encode survivors), so one wadc serves
    * all four populations; each population's ADC top-16 then re-ranks
    * by exact integer L2 (ivfadcServeOracleSql's refine CTEs,
    * prefix-population edition — the round-13 verdict ask #3). A def —
    * eager interpolation rule.
    */
  private[graft] def ivfadcLiveServeOracleSql: String = {
    val perBatch = (0 until 4).map { b =>
      val pop = s"""((vec_id % 5 = 0 AND (vec_id // 5) % 4 <= $b)
               OR (vec_id % 5 <> 0 AND NOT (vec_id % 5 = 1 AND (vec_id // 5) % 4 <= $b)))"""
      s"""l16$b AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wadc WHERE $pop) WHERE rn <= 16),
             lrr$b AS (SELECT c.qid, c.vec_id,
                 list_sum(list_transform(generate_series(1, len(q.qiv)),
                   j -> (q.qiv[j] - x.iv[j]) * (q.qiv[j] - x.iv[j]))) AS d
               FROM l16$b c JOIN wq q ON c.qid = q.qid
               JOIN t x ON c.vec_id = x.vec_id)"""
    }.mkString(",\n             ")
    val unions = (0 until 4).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, qid, CAST(rn AS BIGINT) AS rn, vec_id,
               CAST(d AS BIGINT) AS d
             FROM (SELECT qid, vec_id, d,
                 row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
               FROM lrr$b) WHERE rn <= 3"""
    }.mkString("\n             UNION ALL\n             ")
    s"""${ivfadcSql(256, 2, trainWhere = "vec_id % 5 <> 0")},
             $perBatch
             $unions
             ORDER BY batch_id, qid, rn"""
  }

  /** q210's oracle: the IVFADC chain trained on the day-0 population
    * only (vec_id % 5 <> 0) with the frozen encode and the probe still
    * covering EVERY vector, closed by q206's positioned top-3 SELECT —
    * one plan replaying the whole build + append + probe lifecycle.
    * A def — the eager oracle-string interpolation rule.
    */
  private[graft] def ivfadcIncrementalOracleSql: String =
    s"""${ivfadcSql(16, 1, trainWhere = "vec_id % 5 <> 0")}
             SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, ad FROM (
               SELECT qid, vec_id, ad,
                 row_number() OVER (PARTITION BY qid ORDER BY ad, vec_id) AS rn
               FROM wadc) r
             WHERE rn <= 3 ORDER BY qid, rn"""

  /** DuckDB replay of [[pqCodebookDeep]] + [[pqAssign]] at (k, rounds)
    * — ends at `pfa` whose rk=1 rows are the final (vec_id, m, cid,
    * dist) assignment. q207's oracle; structurally the depth
    * generalization of [[pqSql]] (kept verbatim for q202/q203 — their
    * gated hashes must not move). A def — eager interpolation rule.
    */
  private def pqDeepSql(k: Int, rounds: Int): String =
    s"""WITH t AS (
               SELECT vec_id, list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) + 16777216) AS iv
               FROM embeddings),
             psub AS MATERIALIZED (
               SELECT vec_id, mm.m, list_slice(iv, mm.m * 8 + 1, mm.m * 8 + 8) AS sv
               FROM t, (SELECT unnest(generate_series(0, 7)) AS m) mm),
             pb0 AS (SELECT m, vec_id AS cid, sv AS cv FROM psub WHERE vec_id < $k),
             ${lloydRoundCtesSql(rounds, "psub", "pb0", "pa", "pm", "pb")},
             ${lloydFinalAssignSql("pfa", "psub", s"pb$rounds")}"""
}
