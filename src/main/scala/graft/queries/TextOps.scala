package graft.queries

import graft.{Engine, QueryDef}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import OracleSql._

/** Text-analysis operators over the `documents` table.
  *
  * q40/q41 are the Spark-native forms of the reference's two golden
  * queries — word count (`/root/reference/tests/testdata/exec/wc_map.sh:12`,
  * `wc_reduce.sh:14`) and grep (`grep_map.py:27-28`) — lifted from
  * line-oriented text files onto a typed table at scale. The rest is the
  * text-quality surface of a training-data pipeline: token stats,
  * language stats, heuristic language-ID, quality scoring, document
  * fingerprinting.
  *
  * Tokenizer contract (both engines): lower(text) split on '[^a-z0-9]+',
  * empty tokens dropped. All ratios are int/int double divisions
  * (exactly rounded, engine-identical); aggregated doubles are rounded.
  *
  * Scale notes: everything is a scan -> narrow map -> single shuffle
  * (group/word or none). Word count at 100 TB is exactly the classic
  * shuffle; partial aggregation (map-side combine) comes free from
  * HashAggregate. No UDFs — all codegen'd builtins.
  */
object TextOps {

  /** tokens expression shared by the queries below (see Tokenize). */
  private def toksExpr = Tokenize.toksExpr

  private val stopEn = "'the','and','of','to','in','a','is'"

  /** DuckDB SQL for the byte value at 0-based byte offset `p` (a SQL
    * expression) of `hx`, a LOWERCASE hex dump of the payload
    * (`lower(hex(encode(text)))`). The multimodal queries (q71/q115/q133)
    * do BYTE work on the Spark side (`text.cast("binary")` = UTF-8
    * bytes); DuckDB's substr/ascii/length index CHARACTERS, which only
    * coincides with bytes for pure-ASCII payloads. Indexing the hex dump
    * two chars per byte makes the oracle byte-oriented for ANY payload —
    * no fixture-encoding assumption.
    */
  private def hexByteSql(hx: String, p: String): String = {
    def nib(off: Int) = {
      val c = s"ascii(substr($hx, ($p) * 2 + $off, 1))"
      s"(CASE WHEN $c <= 57 THEN $c - 48 ELSE $c - 87 END)"
    }
    s"(${nib(1)} * 16 + ${nib(2)})"
  }

  val entries: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- q40
    // Word count — the reference's flagship query (Q1 in SURVEY §2.4).
    QueryDef(
      "q40_wordcount",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(explode(toksExpr).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("word")),
      Some(s"""SELECT word, count(*) AS n FROM (
               SELECT unnest(${Tokenize.toksSql}) AS word
               FROM documents) t
             GROUP BY word ORDER BY word""")
    ),
    // ---------------------------------------------------------------- q41
    // Grep — the reference's second golden query (Q2 in SURVEY §2.4):
    // substring match, results in deterministic order.
    QueryDef(
      "q41_grep",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .filter(lower(col("text")).contains("merge"))
          .select(col("doc_id"), col("text"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, text FROM documents
             WHERE contains(lower(text), 'merge') ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q42
    // Token counting: total + distinct per document.
    QueryDef(
      "q42_token_stats",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .select(
            col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            size(array_distinct(col("toks"))).cast("long").as("n_distinct")
          )
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
             CAST(len(${Tokenize.toksSql}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(${Tokenize.toksSql})) AS BIGINT) AS n_distinct
             FROM documents ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q43
    QueryDef(
      "q43_lang_stats",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            round(avg(col("n_chars")), 4).as("avg_chars")
          )
          .orderBy(col("lang")),
      Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
             round(avg(n_chars), 4) AS avg_chars
             FROM documents GROUP BY lang ORDER BY lang""")
    ),
    // ---------------------------------------------------------------- q44
    // Quality scoring: stopword ratio, avg token length, lexical
    // diversity — the length/stopword heuristics of a data-quality pass.
    QueryDef(
      "q44_quality_score",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .filter(size(col("toks")) > 0)
          .select(
            col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            round(
              expr(s"size(filter(toks, x -> x IN ($stopEn)))").cast("double") / size(col("toks")),
              6
            ).as("stop_ratio"),
            round(
              expr("aggregate(toks, 0, (a, x) -> a + length(x))").cast("double") / size(col("toks")),
              6
            ).as("avg_tok_len"),
            round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6)
              .as("diversity")
          )
          .orderBy(col("doc_id")),
      Some(s"""WITH $toksCte
             SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               round(CAST(len(list_filter(toks, x -> x IN ($stopEn))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
               round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6) AS avg_tok_len,
               round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS diversity
             FROM t WHERE len(toks) > 0 ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q45
    // Heuristic language ID: stopword-hit argmax with fixed priority.
    QueryDef(
      "q45_langid",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .withColumn("c_en", expr("size(filter(toks, x -> x IN ('the','and','of','to','in')))"))
          .withColumn("c_es", expr("size(filter(toks, x -> x IN ('el','la','de','que','y')))"))
          .withColumn("c_fr", expr("size(filter(toks, x -> x IN ('le','les','et','des','un')))"))
          .withColumn("c_de", expr("size(filter(toks, x -> x IN ('der','die','und','das','ein')))"))
          .select(
            col("doc_id"),
            when(col("c_en") + col("c_es") + col("c_fr") + col("c_de") === 0, "unknown")
              .when(col("c_en") >= col("c_es") && col("c_en") >= col("c_fr") && col("c_en") >= col("c_de"), "en")
              .when(col("c_es") >= col("c_fr") && col("c_es") >= col("c_de"), "es")
              .when(col("c_fr") >= col("c_de"), "fr")
              .otherwise("de")
              .as("pred_lang")
          )
          .orderBy(col("doc_id")),
      Some(s"""WITH $toksCte,
             c AS (
               SELECT doc_id,
                 len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS c_en,
                 len(list_filter(toks, x -> x IN ('el','la','de','que','y'))) AS c_es,
                 len(list_filter(toks, x -> x IN ('le','les','et','des','un'))) AS c_fr,
                 len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS c_de
               FROM t)
             SELECT doc_id,
               CASE WHEN c_en + c_es + c_fr + c_de = 0 THEN 'unknown'
                    WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_de THEN 'en'
                    WHEN c_es >= c_fr AND c_es >= c_de THEN 'es'
                    WHEN c_fr >= c_de THEN 'fr'
                    ELSE 'de' END AS pred_lang
             FROM c ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q46
    // Document fingerprint: md5 over whitespace-normalized lowercase text.
    QueryDef(
      "q46_fingerprint",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(
            col("doc_id"),
            md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp")
          )
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
             FROM documents ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q49
    // Top-5 words per language via the custom bounded Aggregator
    // (graft.functions.TopKByCount): partial aggregation ships O(k)
    // state per group instead of the full word distribution. Exact, so
    // the oracle is a plain window over full counts.
    QueryDef(
      "q49_top_words_per_lang",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val counts = Engine
          .table(s, dir, "documents")
          .select(col("lang"), explode(toksExpr).as("word"))
          .groupBy(col("lang"), col("word"))
          .agg(count(lit(1)).as("n"))
          .as[(String, String, Long)]
        counts
          .groupByKey(_._1)
          .agg(new graft.functions.TopKByCount(5).toColumn.name("top"))
          .toDF("lang", "top")
          .select(col("lang"), posexplode(col("top")).as(Seq("i", "wn")))
          .select(
            col("lang"),
            col("wn._1").as("word"),
            col("wn._2").as("n"),
            (col("i") + 1).cast("long").as("rk")
          )
          .orderBy(col("lang"), col("rk"))
      },
      Some(s"""WITH wc AS (
               SELECT lang, word, count(*) AS n FROM (
                 SELECT lang, unnest(${Tokenize.toksSql}) AS word
                 FROM documents) t
               GROUP BY lang, word),
             r AS (SELECT lang, word, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rk FROM wc)
             SELECT lang, word, n, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5
             ORDER BY lang, rk""")
    ),
    // ---------------------------------------------------------------- q47
    // BPE-ish subword tokenization: letter runs / digit runs / punct
    // runs with leading-space attachment (the GPT-2 pre-tokenizer
    // shape), via codegen'd regexp_extract_all — no UDF.
    QueryDef(
      "q47_bpe_tokens",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .withColumn(
            "bpe",
            expr("regexp_extract_all(lower(text), '( ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+)', 1)")
          )
          .select(
            col("doc_id"),
            size(col("bpe")).cast("long").as("n_bpe"),
            size(array_distinct(col("bpe"))).cast("long").as("n_bpe_distinct")
          )
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '( ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+)', 1)) AS BIGINT) AS n_bpe,
             CAST(len(list_distinct(regexp_extract_all(lower(text), '( ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+)', 1))) AS BIGINT) AS n_bpe_distinct
             FROM documents ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q48
    // Winnowing fingerprints (rolling-hash document fingerprinting):
    // hash every 5-char gram, keep the min hash of each 4-gram window,
    // dedup — the MOSS/winnowing scheme for plagiarism/near-dup sketches.
    QueryDef(
      "q48_winnow_fingerprints",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
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
          .select(
            col("doc_id"),
            size(col("fps")).cast("long").as("n_fp"),
            array_min(col("fps")).as("min_fp")
          )
          .orderBy(col("doc_id")),
      Some(s"""WITH $winnowCtes
             SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, list_aggregate(fps, 'min') AS min_fp
             FROM t2 ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q59
    // Repetition-based quality filters (the Gopher-style "repetition
    // ratio" family): fraction of tokens taken by the most frequent
    // token, and fraction of word-bigrams taken by the most frequent
    // bigram — high values flag boilerplate/spam for removal. Pure
    // array expressions per row (narrow map, codegen'd, no shuffle);
    // the per-doc distinct x occurrences scan is O(d*n) on short docs.
    QueryDef(
      "q59_repetition_stats",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .withColumn("toks", toksExpr)
          .filter(size(col("toks")) >= 2)
          .withColumn(
            "bg",
            expr("transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")
          )
          .select(
            col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            round(
              expr("array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))")
                .cast("double") / size(col("toks")),
              6
            ).as("top_tok_frac"),
            round(
              expr("array_max(transform(array_distinct(bg), t -> size(filter(bg, x -> x = t))))")
                .cast("double") / size(col("bg")),
              6
            ).as("top_bigram_frac")
          )
          .orderBy(col("doc_id")),
      Some(s"""WITH $toksCte,
             b AS (
               SELECT doc_id, toks,
                 list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1]) AS bg
               FROM t WHERE len(toks) >= 2)
             SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               round(CAST(list_max(list_transform(list_distinct(toks),
                 t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks), 6) AS top_tok_frac,
               round(CAST(list_max(list_transform(list_distinct(bg),
                 t -> len(list_filter(bg, x -> x = t)))) AS DOUBLE) / len(bg), 6) AS top_bigram_frac
             FROM b ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q81
    // TF-IDF: term frequency x inverse document frequency, top-3 terms
    // per document. Two aggregations (term counts; document frequency)
    // and a broadcast-size doc-count join — the classic text-relevance
    // pipeline. Ranking is over the ROUNDED score (then term) so an
    // engine-libm last-ulp difference in ln() can never flip ranks.
    QueryDef(
      "q81_tfidf",
      (s, dir) => {
        val tf = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), explode(toksExpr).as("word"))
          .groupBy(col("doc_id"), col("word"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
        // doc count as a broadcast 1-row aggregate inside the SAME plan —
        // no driver-side action (mirrors the oracle's CROSS JOIN n)
        val n = Engine
          .table(s, dir, "documents")
          .agg(count(lit(1)).cast("double").as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("word"))
        tf.join(dfreq, "word")
          .crossJoin(broadcast(n))
          .withColumn(
            "tfidf",
            round(col("tf") * log(col("n_docs") / col("df")), 4)
          )
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("word"), col("tfidf"), col("rk"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some(s"""WITH tok AS (
               SELECT doc_id, unnest(${Tokenize.toksSql}) AS word
               FROM documents),
             tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
             dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
             n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
             scored AS (
               SELECT tf.doc_id, tf.word, tf.tf,
                 round(tf.tf * ln(n.n_docs / dfreq.df), 4) AS tfidf
               FROM tf JOIN dfreq USING (word) CROSS JOIN n),
             r AS (SELECT doc_id, word, tfidf,
               row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rk
               FROM scored)
             SELECT doc_id, word, tfidf, CAST(rk AS BIGINT) AS rk FROM r
             WHERE rk <= 3 ORDER BY doc_id, rk""")
    ),
    // ---------------------------------------------------------------- q65
    // Token frequency spectrum (Zipf check): for each occurrence count,
    // how many distinct tokens have it — two chained aggregations, both
    // with map-side partial agg; the second input is already tiny.
    QueryDef(
      "q65_token_zipf",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(explode(toksExpr).as("word"))
          .groupBy(col("word"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("n").as("freq"))
          .agg(count(lit(1)).as("n_words"))
          .orderBy(col("freq").desc)
          .limit(50),
      Some(s"""WITH wc AS (
               SELECT word, count(*) AS n FROM (
                 SELECT unnest(${Tokenize.toksSql}) AS word
                 FROM documents) t
               GROUP BY word)
             SELECT n AS freq, count(*) AS n_words FROM wc
             GROUP BY n ORDER BY freq DESC LIMIT 50""")
    ),
    // ---------------------------------------------------------------- q70
    // Multimodal plumbing: treat the payload as an opaque binary column
    // with typed metadata. The "decode" step is a deterministic stub (no
    // media libs in this container) — the Spark-side schema, partition
    // shape and byte handling are real.
    QueryDef(
      "q70_multimodal_meta",
      (s, dir) => {
        val docs = Engine.table(s, dir, "documents")
        val spark = s
        import spark.implicits._
        docs
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { it =>
            // one digest per partition, reset per row (no per-row alloc)
            val md = java.security.MessageDigest.getInstance("SHA-256")
            it.map { case (id, bytes) =>
              md.reset()
              val sha = md.digest(bytes).map("%02x".format(_)).mkString
              val n = bytes.length.toLong
              // stub "decode": fake width/height derived from byte length
              (id, n, sha, n % 640, n % 480)
            }
          }
          .toDF("doc_id", "n_bytes", "sha", "w", "h")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
             sha256(text) AS sha,
             CAST(octet_length(CAST(text AS BLOB)) % 640 AS BIGINT) AS w,
             CAST(octet_length(CAST(text AS BLOB)) % 480 AS BIGINT) AS h
             FROM documents ORDER BY doc_id""")
    ),
    // ---------------------------------------------------------------- q71
    // Multimodal frame sampling: treat the payload as fixed-size 64-byte
    // "frames" (video-frame stand-in), keep every 2nd frame, emit
    // per-frame metadata — a 1->N binary explode in typed mapPartitions.
    // The stub "codec" is byte slicing. The per-frame fingerprint is
    // SHA-256 of the frame's LOWERCASE HEX DUMP (not the raw bytes):
    // hashing an ASCII hex string is the one form both engines can
    // compute for arbitrary bytes — DuckDB's sha256 only accepts VARCHAR,
    // and slicing `lower(hex(encode(text)))` two chars per byte keeps the
    // oracle byte-oriented for non-ASCII payloads too.
    QueryDef(
      "q71_frame_sample",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[(Long, Array[Byte])]
          .flatMap { case (id, bytes) =>
            val md = java.security.MessageDigest.getInstance("SHA-256")
            val nFrames = (bytes.length + 63) / 64
            (0 until nFrames).filter(_ % 2 == 0).map { f =>
              val start = f * 64
              val frame = java.util.Arrays.copyOfRange(bytes, start, math.min(start + 64, bytes.length))
              val hexStr = frame.map(b => "%02x".format(b & 0xff)).mkString
              md.reset()
              val sha = md
                .digest(hexStr.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
                .map("%02x".format(_))
                .mkString
              (id, f.toLong, sha)
            }
          }
          .toDF("doc_id", "frame_idx", "frame_sha")
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some("""WITH d AS (
               SELECT doc_id, lower(hex(encode(text))) AS hx,
                 CAST(floor((octet_length(encode(text)) - 1) / 64) AS BIGINT) AS maxf
               FROM documents),
             f AS (SELECT doc_id, hx, unnest(generate_series(0, maxf)) AS frame_idx FROM d)
             SELECT doc_id, frame_idx,
               sha256(substr(hx, CAST(frame_idx * 128 + 1 AS BIGINT), 128)) AS frame_sha
             FROM f WHERE frame_idx % 2 = 0 ORDER BY doc_id, frame_idx""")
    ),
    // --------------------------------------------------------------- q115
    // Multimodal feature extraction: each doc's binary payload is framed
    // into 64-byte frames (video-frame stand-in, as q71), every frame is
    // "decoded" into an 8-dim feature vector (per-8-byte-block means —
    // real byte math standing in for a CNN featurizer, which this
    // container lacks), and frames mean-pool into a per-doc embedding.
    // This is the batch shape of an embedding pipeline: typed flatMap
    // over Array[Byte] (one decode per frame, no row-level JVM boxing of
    // the whole payload), narrow until the per-doc pooling shuffle.
    // Block means are sums of 8 ints / 8.0 — exact in both engines
    // (power-of-two divisor); the oracle reads the same BYTES through the
    // hex dump (hexByteSql), valid for any payload encoding.
    QueryDef(
      "q115_multimodal_embed",
      (s, dir) => {
        import s.implicits._
        Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[(Long, Array[Byte])]
          .flatMap { case (id, bytes) =>
            val nFrames = bytes.length / 64
            (0 until nFrames).map { f =>
              val feats = (0 until 8).map { j =>
                var sum = 0
                var p = f * 64 + j * 8
                val end = p + 8
                while (p < end) { sum += bytes(p) & 0xff; p += 1 }
                sum / 8.0
              }
              (id, feats(0), feats(1), feats(2), feats(3), feats(4), feats(5), feats(6), feats(7))
            }
          }
          .toDF("doc_id", "b0", "b1", "b2", "b3", "b4", "b5", "b6", "b7")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_frames"),
            round(avg(col("b0")), 4).as("f0"),
            round(avg(col("b1")), 4).as("f1"),
            round(avg(col("b2")), 4).as("f2"),
            round(avg(col("b3")), 4).as("f3"),
            round(avg(col("b4")), 4).as("f4"),
            round(avg(col("b5")), 4).as("f5"),
            round(avg(col("b6")), 4).as("f6"),
            round(avg(col("b7")), 4).as("f7")
          )
          .orderBy(col("doc_id"))
      },
      Some {
        val blocks = (0 until 8)
          .map { j =>
            s"""list_sum(list_transform(generate_series(fr*64 + $j*8, fr*64 + $j*8 + 7),
                p -> ${hexByteSql("hx", "p")})) / 8.0 AS b$j"""
          }
          .mkString(",\n")
        val pools = (0 until 8).map(j => s"round(avg(b$j), 4) AS f$j").mkString(", ")
        s"""WITH fr AS (
             SELECT doc_id, lower(hex(encode(text))) AS hx,
               unnest(generate_series(0, octet_length(encode(text)) // 64 - 1)) AS fr
             FROM documents WHERE octet_length(encode(text)) >= 64),
           feat AS (SELECT doc_id, $blocks FROM fr)
           SELECT doc_id, count(*) AS n_frames, $pools
           FROM feat GROUP BY doc_id ORDER BY doc_id"""
      }
    ),
    // --------------------------------------------------------------- q133
    // Multimodal resize: nearest-neighbor downsample of the payload
    // viewed as a 64-byte-wide raster (h = len div 64 full rows) to a
    // fixed 16x16 thumbnail — the resize step of an image pipeline with
    // the codec stubbed as byte sampling (no media libs in container;
    // the sampling arithmetic, typed byte access, and partition shape
    // are real). out(i, j) = raster(i*h div 16, j*4): works for any
    // h >= 1 (down- or up-sampling), one narrow map, no shuffle. The
    // thumbnail is hash-verified byte-for-byte — the fingerprint is
    // SHA-256 of the thumbnail's lowercase hex dump (same byte-oriented
    // oracle convention as q71: valid for any payload encoding, since
    // DuckDB sha256 only takes VARCHAR); the mean is a sum of 256 bytes
    // / 256 (power-of-two divisor — engine-exact).
    QueryDef(
      "q133_thumbnail",
      (s, dir) => {
        import s.implicits._
        Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
          .as[(Long, Array[Byte])]
          .flatMap { case (id, bytes) =>
            val h = bytes.length / 64
            if (h < 1) None
            else {
              val sampled = new Array[Byte](256)
              var k = 0
              var i = 0
              while (i < 16) {
                val row = i * h / 16
                var j = 0
                while (j < 16) { sampled(k) = bytes(row * 64 + j * 4); k += 1; j += 1 }
                i += 1
              }
              val md = java.security.MessageDigest.getInstance("SHA-256")
              val hexStr = sampled.map(b => "%02x".format(b & 0xff)).mkString
              val sha = md
                .digest(hexStr.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
                .map("%02x".format(_))
                .mkString
              var sum = 0
              sampled.foreach(b => sum += b & 0xff)
              Some((id, h.toLong, sha, sum / 256.0))
            }
          }
          .toDF("doc_id", "src_h", "thumb_sha", "thumb_mean")
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (
               SELECT doc_id, lower(hex(encode(text))) AS hx,
                 octet_length(encode(text)) // 64 AS h
               FROM documents WHERE octet_length(encode(text)) >= 64),
             px AS (
               SELECT doc_id, h, gi.i, gj.j,
                 substr(hx, CAST((((gi.i * h) // 16) * 64 + gj.j * 4) * 2 + 1 AS BIGINT), 2) AS bh
               FROM d, generate_series(0, 15) gi(i), generate_series(0, 15) gj(j)),
             t AS (
               SELECT doc_id, h,
                 string_agg(bh, '' ORDER BY i, j) AS thumbhex,
                 sum(${hexByteSql("bh", "0")}) AS px_sum
               FROM px GROUP BY doc_id, h)
             SELECT doc_id, CAST(h AS BIGINT) AS src_h, sha256(thumbhex) AS thumb_sha,
               px_sum / 256.0 AS thumb_mean
             FROM t ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q103
    // Exact heavy hitters in two passes — the at-scale recipe for "which
    // tokens exceed 1/30 of a language's volume" when the token domain is
    // too large to fully count cheaply: pass 1 runs the Misra-Gries
    // sketch (functions.MisraGries, O(k) state per lang, mergeable
    // partials) to get a candidate superset — every token above n/(k+1)
    // is guaranteed present, and k=64 >> 30 covers the 1/30 threshold;
    // pass 2 exactly recounts ONLY the candidates (semi join) and filters
    // count * 30 > n. Results are exact, so the oracle is the plain
    // GROUP BY ... HAVING the sketch avoids materializing in full.
    QueryDef(
      "q103_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val toks = Engine
          .table(s, dir, "documents")
          .select(col("lang"), explode(toksExpr).as("word"))
        val totals = toks.groupBy(col("lang")).agg(count(lit(1)).as("total"))
        val mg = new _root_.graft.functions.MisraGries(64)
        val cands = toks
          .as[(String, String)]
          .groupByKey(_._1)
          .agg(mg.toColumn.name("cands"))
          .toDF("lang", "cands")
          .select(col("lang"), explode(col("cands")).as("word"))
        toks
          .join(cands, Seq("lang", "word"), "left_semi")
          .groupBy(col("lang"), col("word"))
          .agg(count(lit(1)).as("n"))
          .join(totals, "lang")
          .filter(col("n") * 30 > col("total"))
          .select(col("lang"), col("word"), col("n"))
          .orderBy(col("lang"), col("word"))
      },
      Some(s"""WITH t AS (
               SELECT lang,
                 unnest(${Tokenize.toksSql}) AS word
               FROM documents),
             n AS (SELECT lang, count(*) AS total FROM t GROUP BY lang)
             SELECT t.lang, t.word, count(*) AS n
             FROM t JOIN n USING (lang)
             GROUP BY t.lang, t.word, n.total
             HAVING count(*) * 30 > n.total
             ORDER BY lang, word""")
    ),
    // --------------------------------------------------------------- q112
    // Inverted index build — the original MapReduce showcase product:
    // word -> sorted posting list of containing docs (capped at 50 per
    // word; full cardinality reported alongside). One explode + one
    // shuffle on the word key; collect_set state is bounded by the cap's
    // usefulness at the head and the distinct-doc count at the tail (at
    // 100 TB: cap with slice as here, or bucket postings by doc-id range
    // into a (word, bucket) composite key to bound per-group state).
    QueryDef(
      "q112_inverted_index",
      (s, dir) =>
        Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), explode(toksExpr).as("word"))
          .distinct()
          .groupBy(col("word"))
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            array_join(slice(array_sort(collect_set(col("doc_id"))), 1, 50), ",").as("postings")
          )
          .orderBy(col("word")),
      Some(s"""WITH t AS (
               SELECT DISTINCT doc_id,
                 unnest(${Tokenize.toksSql}) AS word
               FROM documents)
             SELECT word, count(DISTINCT doc_id) AS n_docs,
               array_to_string(list_sort(list(DISTINCT doc_id))[1:50], ',') AS postings
             FROM t GROUP BY word ORDER BY word""")
    ),
    // --------------------------------------------------------------- q116
    // Word co-occurrence lift — association mining over the corpus:
    // lift(x,y) = P(x,y) / (P(x)P(y)) over document presence, the
    // log-free core of PMI (log is libm-dependent across engines; the
    // ratio is one correctly-rounded division of exact integers, so it
    // hash-matches). Presence explode -> within-doc pair self-join
    // (bounded by per-doc distinct vocabulary) -> count shuffle. Top-50
    // pairs by lift with support >= 5.
    QueryDef(
      "q116_cooccurrence",
      (s, dir) => {
        val t = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), explode(toksExpr).as("word"))
          .distinct()
        // lazy one-row corpus count, broadcast in — not an eager
        // driver-side count() at plan-build time (same shape as q108)
        val nd = Engine.table(s, dir, "documents").agg(count(lit(1)).as("nd"))
        val wc = t.groupBy(col("word")).agg(count(lit(1)).as("nw"))
        val pairs = t
          .as("a")
          .join(t.as("b"), col("a.doc_id") === col("b.doc_id") && col("a.word") < col("b.word"))
          .groupBy(col("a.word").as("wa"), col("b.word").as("wb"))
          .agg(count(lit(1)).as("nxy"))
          .filter(col("nxy") >= 5)
        pairs
          .join(wc.select(col("word").as("wa"), col("nw").as("na")), "wa")
          .join(wc.select(col("word").as("wb"), col("nw").as("nb")), "wb")
          .crossJoin(broadcast(nd))
          .select(
            col("wa"),
            col("wb"),
            col("nxy"),
            round((col("nxy") * col("nd")).cast("double") / (col("na") * col("nb")), 6).as("lift")
          )
          .orderBy(col("lift").desc, col("wa"), col("wb"))
          .limit(50)
      },
      Some(s"""WITH t AS (
               SELECT DISTINCT doc_id,
                 unnest(${Tokenize.toksSql}) AS word
               FROM documents),
             n AS (SELECT count(*) AS nd FROM documents),
             wc AS (SELECT word, count(*) AS nw FROM t GROUP BY word),
             p AS (SELECT a.word AS wa, b.word AS wb, count(*) AS nxy
                   FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.word < b.word
                   GROUP BY a.word, b.word HAVING count(*) >= 5)
             SELECT wa, wb, nxy,
               round(CAST(nxy * nd AS DOUBLE) / (x.nw * y.nw), 6) AS lift
             FROM p CROSS JOIN n
               JOIN wc x ON x.word = wa JOIN wc y ON y.word = wb
             ORDER BY lift DESC, wa, wb LIMIT 50""")
    ),
    // --------------------------------------------------------------- q117
    // Bigram language model: adjacent-token pair counts and the exact
    // conditional p(next | head) = n_ab / n_a. (count ratios: one
    // correctly-rounded int/int division, engine-identical), top-3
    // continuations per head word. The n-gram-LM table build is a
    // one-shuffle aggregation; the per-head top-k is WindowGroupLimit.
    QueryDef(
      "q117_bigram_lm",
      (s, dir) => {
        val bi = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), Tokenize.toksExpr.as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(toks) - 1), " +
              "i -> named_struct('a', element_at(toks, i), 'b', element_at(toks, i + 1)))"
          )).as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("n"))
        val heads = bi.groupBy(col("a")).agg(sum(col("n")).as("na"))
        bi.join(heads, "a")
          .withColumn(
            "rk",
            row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("a"))
                .orderBy(col("n").desc, col("b"))
            )
          )
          .filter(col("rk") <= 3)
          .select(col("a"), col("b"), col("n"), round(col("n").cast("double") / col("na"), 6).as("p"))
          .orderBy(col("a"), col("n").desc, col("b"))
      },
      Some(s"""WITH $toksCte,
             bi AS (
               SELECT p[1] AS a, p[2] AS b, count(*) AS n FROM (
                 SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                   i -> [toks[i], toks[i+1]])) AS p
                 FROM t WHERE len(toks) >= 2)
               GROUP BY 1, 2),
             h AS (SELECT a, sum(n) AS na FROM bi GROUP BY a),
             r AS (SELECT bi.a, bi.b, bi.n, h.na,
                     row_number() OVER (PARTITION BY bi.a ORDER BY bi.n DESC, bi.b) AS rk
                   FROM bi JOIN h ON bi.a = h.a)
             SELECT a, b, CAST(n AS BIGINT) AS n, round(CAST(n AS DOUBLE) / na, 6) AS p
             FROM r WHERE rk <= 3 ORDER BY a, n DESC, b""")
    ),
    // --------------------------------------------------------------- q137
    // LM-based quality score (the CCNet/DataComp perplexity-filter
    // shape): train the q117 bigram LM on the corpus itself, then score
    // each document by its mean conditional bigram probability. Stays
    // engine-exact by working in integer parts-per-million — each
    // bigram's p(b|a) = (n_ab * 1e6) div n_a, and the doc score is the
    // count-weighted integer mean — no float log/exp anywhere. Low
    // lm_ppm = improbable token transitions = gibberish/boilerplate
    // candidates. Scale shape: the LM build is one hash-shuffle on the
    // pair key; scoring joins the doc's bigram counts to the LM on the
    // same key — scan + two hash shuffles, no per-doc loops.
    QueryDef(
      "q137_lm_score",
      (s, dir) => {
        val docBi = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), toksExpr.as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(
            col("doc_id"),
            explode(expr(
              "transform(sequence(1, size(toks) - 1), " +
                "i -> named_struct('a', element_at(toks, i), 'b', element_at(toks, i + 1)))"
            )).as("p")
          )
          .groupBy(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("c"))
        val lm = docBi.groupBy(col("a"), col("b")).agg(sum(col("c")).as("n"))
        val heads = lm.groupBy(col("a")).agg(sum(col("n")).as("na"))
        docBi
          .join(lm.join(heads, "a"), Seq("a", "b"))
          .withColumn("ppm", expr("(n * 1000000) div na"))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("c")).as("n_bigrams"),
            expr("sum(c * ppm) div sum(c)").as("lm_ppm")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksCte,
             db AS (
               SELECT doc_id, p[1] AS a, p[2] AS b, count(*) AS c FROM (
                 SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                   i -> [toks[i], toks[i+1]])) AS p
                 FROM t WHERE len(toks) >= 2)
               GROUP BY 1, 2, 3),
             lm AS (SELECT a, b, sum(c) AS n FROM db GROUP BY a, b),
             h AS (SELECT a, sum(n) AS na FROM lm GROUP BY a),
             sc AS (SELECT db.doc_id, db.c, (lm.n * 1000000) // h.na AS ppm
                    FROM db JOIN lm ON db.a = lm.a AND db.b = lm.b
                    JOIN h ON db.a = h.a)
             SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(sum(c * ppm) // sum(c) AS BIGINT) AS lm_ppm
             FROM sc GROUP BY doc_id ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q138
    // Vocabulary build + per-doc out-of-vocabulary rate — the
    // tokenizer-prep step of a training pipeline: the top-1000 corpus
    // tokens (count desc, token asc — deterministic at the boundary)
    // form the vocabulary; each doc reports how many of its tokens fall
    // outside it (integer ppm). High OOV = encoding noise / unseen
    // language — a routing signal for tokenizer retraining. Scale
    // shape: the vocab is a global top-k (TakeOrderedAndProject — never
    // a full sort) whose 1000 rows broadcast back onto the exploded
    // token stream; one hash-agg by doc_id closes the plan.
    QueryDef(
      "q138_vocab_oov",
      (s, dir) => {
        val toks = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), explode(toksExpr).as("tok"))
        val vocab = toks
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(1000)
          .select(col("tok"), lit(1).as("in_vocab"))
        toks
          .join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov")
          )
          .withColumn("oov_ppm", expr("(n_oov * 1000000) div n_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksCte,
             tk AS (SELECT doc_id, unnest(toks) AS tok FROM t),
             v AS (SELECT tok FROM tk GROUP BY tok
                   ORDER BY count(*) DESC, tok LIMIT 1000)
             SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000
                 // count(*) AS BIGINT) AS oov_ppm
             FROM tk LEFT JOIN v ON tk.tok = v.tok
             GROUP BY doc_id ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q154
    // N-gram novelty score: the fraction of a doc's DISTINCT token
    // 8-grams whose corpus-wide first occurrence (min doc_id) is this
    // doc — the "how much of this is new text" curation signal
    // (near-0 = rehash of earlier documents, even when no single
    // earlier doc is a whole-doc near-dup; the containment angle q52's
    // whole-doc MinHash dilutes). Exact integer ppm. Scale shape: ONE
    // shuffle on the gram hash (first-occurrence min) + the join back
    // to re-score docs — grams are the unit of work, linear in corpus
    // token count, no pair enumeration anywhere.
    QueryDef(
      "q154_ngram_novelty",
      (s, dir) => {
        // BARRIER BEFORE THE EXPLODE (q74 tiles lesson): the explode's
        // implicit isnotnull filter would inline the gram-construction
        // DAG and pushdown would drag it below the repartition onto the
        // single-file scan; checkpoint the (doc_id, gram ARRAY) rows so
        // the explode and both consumers read materialized arrays.
        val gdocs = Engine
          .table(s, dir, "documents")
          .repartition(col("doc_id"))
          .withColumn("toks", Tokenize.toksExpr)
          .filter(size(col("toks")) >= 8)
          .select(
            col("doc_id"),
            // md5 gram keys (native single-pass kernel): the
            // first-occurrence shuffle and the re-score join move
            // 32-byte hashes instead of 8-token text — same counts,
            // narrower exchange; the oracle md5s identically
            array_distinct(graft.functions.TextHashOps.gramMd5s(col("toks"), 8)).as("grams")
          )
          .localCheckpoint(eager = false)
        val grams = gdocs.select(col("doc_id"), explode(col("grams")).as("gram"))
        val first = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_id"))
        grams
          .join(first, "gram")
          .groupBy(col("doc_id"))
          .agg(
            count(lit(1)).as("n_grams"),
            sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L)).as("novel")
          )
          .select(
            col("doc_id"),
            col("n_grams"),
            expr("(novel * 1000000) div n_grams").as("novel_ppm")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $toksCte,
             g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(generate_series(1, len(toks) - 7),
                   i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))))) AS gram
               FROM t WHERE len(toks) >= 8),
             f AS (SELECT gram, min(doc_id) AS first_id FROM g GROUP BY gram)
             SELECT g.doc_id, count(*) AS n_grams,
               CAST(1000000 * count(CASE WHEN f.first_id = g.doc_id THEN 1 END)
                 // count(*) AS BIGINT) AS novel_ppm
             FROM g JOIN f USING (gram) GROUP BY g.doc_id ORDER BY g.doc_id""")
    ),
    // --------------------------------------------------------------- q165
    // The Gopher quality-rule battery (Rae et al. 2021, A1.1/A1.2) as
    // one per-document operator: every published repetition/symbol rule
    // value plus the combined keep/drop verdict, all in exact integer
    // ppm/micro units so the two engines agree bit-for-bit.
    //   A1.1 scalars: word count, mean word length, symbol-to-word
    //   ratio (# + ellipsis), bullet-start and ellipsis-end line
    //   shares, alphabetic-word share, stop-word hits.
    //   A1.2 repetition: duplicate-line and duplicate-line-character
    //   fractions (paragraph rules coincide with line rules on this
    //   corpus's newline-free docs; fixture-tested with real newlines),
    //   top-{2,3,4}-gram character share (most frequent gram, count
    //   desc / gram asc tie-break), duplicate-{5,10}-gram character
    //   COVERAGE (distinct token positions inside any within-doc
    //   repeated n-gram, counted once — the q156 span idea, per doc).
    // Scale shape: scalars ride the scan as narrow HOFs; gram counts
    // shuffle on (doc_id, n, gram-hash) and every window is per-doc
    // bounded (a doc's gram table, never the corpus); the two pivot
    // aggregations and the final joins key on doc_id. No UDFs; gram
    // hashing uses the native TokenGramMd5 kernel.
    QueryDef(
      "q165_gopher_rules",
      (s, dir) => {
        val toksDf = Engine
          .table(s, dir, "documents")
          .repartition(col("doc_id"))
          .select(col("doc_id"), col("text"), toksExpr.as("toks"))
          .filter(size(col("toks")) >= 1)
          .withColumn("nchars", expr("aggregate(toks, 0L, (a, x) -> a + length(x))"))
        val base = toksDf
          .withColumn("lines", split(col("text"), "\n"))
          .select(
            col("doc_id"),
            col("nchars"),
            size(col("toks")).cast("long").as("n_words"),
            expr("(aggregate(toks, 0L, (a, x) -> a + length(x)) * 1000000) div size(toks)")
              .as("mean_wlen_micro"),
            expr("""(cast(length(text) - length(replace(text, '#', ''))
                   + (length(text) - length(replace(text, '...', ''))) div 3 as bigint)
                   * 1000000) div size(toks)""").as("symbol_ppm"),
            expr("(cast(size(filter(toks, x -> regexp_like(x, '[a-z]'))) as bigint) * 1000000) div size(toks)")
              .cast("long").as("alpha_ppm"),
            expr("""size(array_intersect(array_distinct(toks),
                   array('the','be','to','of','and','that','have','with')))""")
              .cast("long").as("stop_hits"),
            expr("(cast(size(lines) - size(array_distinct(lines)) as bigint) * 1000000) div size(lines)")
              .as("dup_line_ppm"),
            expr("""((aggregate(lines, 0L, (a, x) -> a + length(x))
                   - aggregate(array_distinct(lines), 0L, (a, x) -> a + length(x))) * 1000000)
                   div greatest(aggregate(lines, 0L, (a, x) -> a + length(x)), 1L)""")
              .as("dup_line_char_ppm"),
            expr("(cast(size(filter(lines, x -> x LIKE '•%' OR x LIKE '- %')) as bigint) * 1000000) div size(lines)")
              .cast("long").as("bullet_ppm"),
            expr("(cast(size(filter(lines, x -> x LIKE '%...' OR x LIKE '%…')) as bigint) * 1000000) div size(lines)")
              .cast("long").as("ellipsis_ppm")
          )
        // top-{2,3,4}-gram char share: per (doc, n) the most frequent
        // gram (tie: lexicographically smallest), share = occurrences x
        // gram chars (separators excluded) / doc token chars
        val topGrams = Seq(2, 3, 4)
          .map { n =>
            toksDf
              .filter(size(col("toks")) >= n)
              .select(
                col("doc_id"),
                col("nchars"),
                lit(n).as("n"),
                explode(expr(
                  s"transform(sequence(1, size(toks) - ${n - 1}), i -> array_join(slice(toks, i, $n), ' '))"
                )).as("gram")
              )
          }
          .reduce(_ unionAll _)
          .groupBy(col("doc_id"), col("nchars"), col("n"), col("gram"))
          .agg(count(lit(1)).as("c"))
          .withColumn(
            "rn",
            row_number().over(
              Window.partitionBy(col("doc_id"), col("n")).orderBy(col("c").desc, col("gram"))
            )
          )
          .filter(col("rn") === 1)
          .withColumn("ppm", expr("(c * length(replace(gram, ' ', '')) * 1000000) div nchars"))
          .groupBy(col("doc_id"))
          .agg(
            max(when(col("n") === 2, col("ppm"))).as("top2_ppm"),
            max(when(col("n") === 3, col("ppm"))).as("top3_ppm"),
            max(when(col("n") === 4, col("ppm"))).as("top4_ppm")
          )
        // duplicate-{5,10}-gram char coverage: distinct token positions
        // under any within-doc repeated n-gram, each position's chars
        // counted once
        val tokLens = toksDf.select(
          col("doc_id"),
          posexplode(col("toks")).as(Seq("p0", "tok"))
        ).select(col("doc_id"), (col("p0") + 1).as("pos"), length(col("tok")).cast("long").as("l"))
        val dupCov = Seq(5, 10)
          .map { n =>
            toksDf
              .filter(size(col("toks")) >= n)
              .select(
                col("doc_id"),
                lit(n).as("n"),
                posexplode(graft.functions.TextHashOps.gramMd5s(col("toks"), n)).as(Seq("gi0", "h"))
              )
              .withColumn(
                "cnt",
                count(lit(1)).over(Window.partitionBy(col("doc_id"), col("h")))
              )
              .filter(col("cnt") >= 2)
              .select(
                col("doc_id"),
                col("n"),
                explode(expr(s"sequence(gi0 + 1, gi0 + $n)")).as("pos")
              )
              .distinct()
          }
          .reduce(_ unionAll _)
          .join(tokLens, Seq("doc_id", "pos"))
          .groupBy(col("doc_id"))
          .agg(
            sum(when(col("n") === 5, col("l"))).as("cov5"),
            sum(when(col("n") === 10, col("l"))).as("cov10")
          )
        base
          .join(topGrams, Seq("doc_id"), "left")
          .join(dupCov, Seq("doc_id"), "left")
          .withColumn("top2_ppm", coalesce(col("top2_ppm"), lit(0L)))
          .withColumn("top3_ppm", coalesce(col("top3_ppm"), lit(0L)))
          .withColumn("top4_ppm", coalesce(col("top4_ppm"), lit(0L)))
          .withColumn("dup5_ppm", expr("(coalesce(cov5, 0L) * 1000000) div nchars"))
          .withColumn("dup10_ppm", expr("(coalesce(cov10, 0L) * 1000000) div nchars"))
          .withColumn(
            "verdict",
            expr(s"""CASE WHEN $gopherVerdictSql THEN 'keep' ELSE 'drop' END""")
          )
          .select(
            col("doc_id"), col("n_words"), col("mean_wlen_micro"), col("symbol_ppm"),
            col("alpha_ppm"), col("stop_hits"), col("dup_line_ppm"), col("dup_line_char_ppm"),
            col("bullet_ppm"), col("ellipsis_ppm"), col("top2_ppm"), col("top3_ppm"),
            col("top4_ppm"), col("dup5_ppm"), col("dup10_ppm"), col("verdict")
          )
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
               SELECT doc_id, text, ${Tokenize.toksSql} AS toks FROM documents),
             t1 AS (
               SELECT doc_id, text, toks,
                 CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS nchars,
                 str_split(text, chr(10)) AS lines
               FROM t WHERE len(toks) >= 1),
             base AS (
               SELECT doc_id, nchars,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 nchars * 1000000 // len(toks) AS mean_wlen_micro,
                 CAST((length(text) - length(replace(text, '#', ''))
                   + (length(text) - length(replace(text, '...', ''))) // 3)
                   * 1000000 // len(toks) AS BIGINT) AS symbol_ppm,
                 $alphaPpm,
                 $stopHits,
                 CAST((len(lines) - len(list_distinct(lines)))
                   * 1000000 // len(lines) AS BIGINT) AS dup_line_ppm,
                 CAST((list_sum(list_transform(lines, x -> length(x)))
                     - list_sum(list_transform(list_distinct(lines), x -> length(x))))
                   * 1000000 // greatest(list_sum(list_transform(lines, x -> length(x))), 1)
                   AS BIGINT) AS dup_line_char_ppm,
                 CAST(len(list_filter(lines, x -> x LIKE chr(8226) || '%' OR x LIKE '- %'))
                   * 1000000 // len(lines) AS BIGINT) AS bullet_ppm,
                 CAST(len(list_filter(lines, x -> x LIKE '%...' OR x LIKE '%' || chr(8230)))
                   * 1000000 // len(lines) AS BIGINT) AS ellipsis_ppm
               FROM t1),
             g AS (
               SELECT doc_id, nchars, n, unnest(list_transform(
                   generate_series(1, len(toks) - n + 1),
                   i -> array_to_string(list_slice(toks, i, i + n - 1), ' '))) AS gram
               FROM t1, (SELECT unnest([2, 3, 4]) AS n) ns
               WHERE len(toks) >= n),
             gc AS (SELECT doc_id, nchars, n, gram, count(*) AS c FROM g GROUP BY ALL),
             topg AS (
               SELECT doc_id,
                 max(CASE WHEN n = 2 THEN ppm END) AS top2_ppm,
                 max(CASE WHEN n = 3 THEN ppm END) AS top3_ppm,
                 max(CASE WHEN n = 4 THEN ppm END) AS top4_ppm
               FROM (
                 SELECT doc_id, n,
                   c * length(replace(gram, ' ', '')) * 1000000 // nchars AS ppm
                 FROM gc
                 QUALIFY row_number() OVER (PARTITION BY doc_id, n
                     ORDER BY c DESC, gram) = 1)
               GROUP BY doc_id),
             pg AS (
               SELECT doc_id, n, i, md5(array_to_string(list_slice(toks, i, i + n - 1), ' ')) AS h
               FROM (SELECT doc_id, toks, n,
                       unnest(generate_series(1, len(toks) - n + 1)) AS i
                     FROM t1, (SELECT unnest([5, 10]) AS n) ns
                     WHERE len(toks) >= n)),
             rep AS (SELECT doc_id, n, i FROM pg
               QUALIFY count(*) OVER (PARTITION BY doc_id, n, h) >= 2),
             cov AS (SELECT DISTINCT doc_id, n,
                 unnest(generate_series(i, i + n - 1)) AS pos FROM rep),
             tl AS (SELECT doc_id, unnest(toks) AS tok,
                 generate_subscripts(toks, 1) AS pos FROM t1),
             covc AS (
               SELECT cov.doc_id,
                 CAST(sum(CASE WHEN cov.n = 5 THEN length(tl.tok) END) AS BIGINT) AS cov5,
                 CAST(sum(CASE WHEN cov.n = 10 THEN length(tl.tok) END) AS BIGINT) AS cov10
               FROM cov JOIN tl ON cov.doc_id = tl.doc_id AND cov.pos = tl.pos
               GROUP BY cov.doc_id),
             fin AS (
               SELECT base.doc_id AS doc_id, n_words, mean_wlen_micro, symbol_ppm, alpha_ppm,
                 stop_hits, dup_line_ppm, dup_line_char_ppm, bullet_ppm, ellipsis_ppm,
                 coalesce(topg.top2_ppm, 0) AS top2_ppm,
                 coalesce(topg.top3_ppm, 0) AS top3_ppm,
                 coalesce(topg.top4_ppm, 0) AS top4_ppm,
                 coalesce(covc.cov5, 0) * 1000000 // base.nchars AS dup5_ppm,
                 coalesce(covc.cov10, 0) * 1000000 // base.nchars AS dup10_ppm
               FROM base
               LEFT JOIN topg ON base.doc_id = topg.doc_id
               LEFT JOIN covc ON base.doc_id = covc.doc_id)
             SELECT doc_id, n_words, mean_wlen_micro, symbol_ppm, alpha_ppm, stop_hits,
               dup_line_ppm, dup_line_char_ppm, bullet_ppm, ellipsis_ppm,
               top2_ppm, top3_ppm, top4_ppm, dup5_ppm, dup10_ppm,
               CASE WHEN $gopherVerdictSql THEN 'keep' ELSE 'drop' END AS verdict
             FROM fin ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q169
    // Classifier-based quality filtering — the model-scored stage the
    // DCLM/FineWeb recipes run AFTER rule-based gating (q165 is the
    // rules; this is the scored ranking): extract interpretable
    // features per doc (mean word length, alphabetic share,
    // type-token ratio, stop-word hits, capped length), apply a FIXED
    // linear weight vector (a documented stand-in for trained
    // coefficients — see qualityLogitSql), and emit the exact integer
    // logit plus the keep verdict. Everything is one narrow pass over
    // the scan (the features are per-row HOFs; no joins, no windows,
    // no shuffle at all before the output sort) — at 100 TB this is
    // the cheapest possible operator shape: scoring rides the read.
    QueryDef(
      "q169_quality_logit",
      (s, dir) => qualityScore(Engine.table(s, dir, "documents")).orderBy(col("doc_id")),
      Some(qualityScoreOracle)
    ),
    // --------------------------------------------------------------- q175
    // Character-n-gram language ID with PROFILE TABLES — the
    // Cavnar-Trenkle / CLD-style mechanism behind every public langid
    // stage (fastText/CLD2 score char-n-gram profiles; q45 is the
    // cruder whole-stopword argmax). Per language: a fixed literal
    // profile of 10 character trigrams; a document's score for
    // language L = total characters matched by L's trigrams
    // (length-minus-replace counting — narrow codegen'd string ops,
    // no regex); prediction = argmax with a fixed alphabetical
    // tiebreak. The synthetic corpus's text carries no language
    // signal (every lang draws from the same vocabulary), so — as
    // with q163's URLs and q171's PII — a deterministic generator
    // injects it: each doc is suffixed with its language's function
    // words repeated 3 + doc_id % 3 times, and the classifier must
    // RECOVER the label from the augmented characters alone. The
    // profile trigrams are chosen collision-free against the corpus
    // vocabulary and each other's tails (e.g. no 'que' — 'query' is
    // corpus vocabulary; no ' ta' — ' table'; LangIdSpec pins decoy
    // immunity). Output: the (lang, pred_lang) confusion matrix with
    // exact integer share_ppm — the gated accuracy statement
    // (diagonal = 1000000 at every SF tested). Scale: one narrow
    // pass riding the scan + a 25-row aggregate; swap the literal
    // profiles for trained ones and nothing else changes (q169's
    // stand-in pattern).
    QueryDef(
      "q175_langid_profile",
      (s, dir) => {
        val scored = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), expr(langAugSql).as("aug"))
          .select(
            col("doc_id") +: col("lang") +:
              langProfiles.map { case (l, _, grams) =>
                expr(langScoreSql(grams)).as(s"s_$l")
              }: _*)
          .withColumn("pred_lang", expr(langPredSql))
        val w = Window.partitionBy(col("lang"))
        scored
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .withColumn("total", sum(col("n")).over(w))
          .withColumn("share_ppm", expr("(n * 1000000) div total"))
          .select(col("lang"), col("pred_lang"), col("n"), col("share_ppm"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      Some(s"""WITH a AS (SELECT doc_id, lang, $langAugSql AS aug FROM documents),
             sc AS (SELECT doc_id, lang, ${langProfiles
        .map { case (l, _, g) => s"(${langScoreSql(g)}) AS s_$l" }
        .mkString(", ")} FROM a),
             pr AS (SELECT doc_id, lang, $langPredSql AS pred_lang FROM sc),
             cf AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY 1, 2)
             SELECT lang, pred_lang, n,
               CAST(n * 1000000 // sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_ppm
             FROM cf ORDER BY lang, pred_lang""")
    ),
    // --------------------------------------------------------------- q184
    // CCNet head/middle/tail perplexity bucketing — the signature CCNet
    // stage (docs ranked per language by LM perplexity and cut into
    // terciles; 'head' feeds training, 'tail' is usually dropped):
    // q137's corpus-trained integer bigram LM scores each doc
    // (high lm_ppm = probable transitions = low perplexity = head),
    // then per LANGUAGE an exact integer tercile split — head =
    // rnk <= ceil(n/3), middle <= ceil(2n/3), tail otherwise, ranked
    // lm_ppm DESC with doc_id tiebreak. Scale shape: the LM build and
    // scoring are q137's two hash shuffles; the per-language ranking is
    // the q182 distributed rank on (lang, -lm_ppm, doc_id) — lang has
    // ~5 values, so a bare per-language window would funnel the corpus
    // through 5 tasks.
    QueryDef(
      "q184_ccnet_buckets",
      (s, dir) => {
        val docBi = Engine
          .table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), toksExpr.as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(
            col("doc_id"),
            col("lang"),
            explode(expr(
              "transform(sequence(1, size(toks) - 1), " +
                "i -> named_struct('a', element_at(toks, i), 'b', element_at(toks, i + 1)))"
            )).as("p")
          )
          .groupBy(col("doc_id"), col("lang"), col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("c"))
        val lm = docBi.groupBy(col("a"), col("b")).agg(sum(col("c")).as("n"))
        val heads = lm.groupBy(col("a")).agg(sum(col("n")).as("na"))
        val scored = docBi
          .join(lm.join(heads, "a"), Seq("a", "b"))
          .withColumn("ppm", expr("(n * 1000000) div na"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(expr("sum(c * ppm) div sum(c)").as("lm_ppm"))
          .withColumn("negp", -col("lm_ppm"))
        graft.operators.Ranks
          .distributedRank(scored, Seq("lang"), Seq(col("negp"), col("doc_id")))
          .withColumn(
            "bucket",
            when(col("rnk") <= expr("(n + 2) div 3"), lit("head"))
              .when(col("rnk") <= expr("(2 * n + 2) div 3"), lit("middle"))
              .otherwise(lit("tail")))
          .select(col("doc_id"), col("lang"), col("lm_ppm"), col("rnk"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
               SELECT doc_id, lang, ${Tokenize.toksSql} AS toks
               FROM documents),
             db AS (
               SELECT doc_id, lang, p[1] AS a, p[2] AS b, count(*) AS c FROM (
                 SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(toks) - 1),
                   i -> [toks[i], toks[i+1]])) AS p
                 FROM t WHERE len(toks) >= 2)
               GROUP BY 1, 2, 3, 4),
             lm AS (SELECT a, b, sum(c) AS n FROM db GROUP BY a, b),
             h AS (SELECT a, sum(n) AS na FROM lm GROUP BY a),
             sc AS (SELECT db.doc_id, db.lang, db.c, (lm.n * 1000000) // h.na AS ppm
                    FROM db JOIN lm ON db.a = lm.a AND db.b = lm.b
                    JOIN h ON db.a = h.a),
             d AS (SELECT doc_id, lang,
                 CAST(sum(c * ppm) // sum(c) AS BIGINT) AS lm_ppm
               FROM sc GROUP BY doc_id, lang),
             r AS (SELECT doc_id, lang, lm_ppm,
                 CAST(row_number() OVER (PARTITION BY lang
                     ORDER BY lm_ppm DESC, doc_id) AS BIGINT) AS rnk,
                 count(*) OVER (PARTITION BY lang) AS n
               FROM d)
             SELECT doc_id, lang, lm_ppm, rnk,
               CASE WHEN rnk <= (n + 2) // 3 THEN 'head'
                    WHEN rnk <= (2 * n + 2) // 3 THEN 'middle'
                    ELSE 'tail' END AS bucket
             FROM r ORDER BY doc_id""")
    ),
    // --------------------------------------------------------------- q201
    // Classifier-vs-rules CALIBRATION curve — the QA step a filtering
    // pipeline runs before trusting a scored classifier (q169) at a new
    // threshold: rank the corpus by logit, cut it into exact global
    // deciles, and report per decile how often an INDEPENDENT signal —
    // a minimal rule gate (the three cheapest Gopher A1.1 thresholds:
    // alphabetic share, stop-word hits, length floor; the stop-hit
    // floor is 1, not Gopher's 2, because q169's 8-word stop list
    // yields 0-1 hits on the synthetic corpus — threshold scaled to
    // keep the signal non-vacuous, same spirit as the ppm unit
    // scaling) — agrees. A
    // monotone rule_keep_ppm curve says the score ranks quality the way
    // the rules do; a flat one says the threshold is arbitrary — and at
    // sf0.01 the curve is neither: it RISES through the mid deciles and
    // COLLAPSES at the top, because the stand-in logit's +10*ttr_ppm
    // term inflates very short documents (TTR ~ 1 when every word is
    // distinct) that the 50-word floor rejects — precisely the
    // length-bias pathology this audit exists to catch before anyone
    // trusts a high-score cut. The
    // decile is ((rnk - 1) * 10) div n over the q182 DISTRIBUTED rank
    // (range-exchange, local rank, broadcast offsets — a global
    // ORDER BY window would funnel the corpus through one task), and
    // the curve itself is a 10-row aggregate. Exact integer ppm — no FP.
    QueryDef(
      "q201_score_calibration",
      (s, dir) => {
        val q = qualityScore(Engine.table(s, dir, "documents"))
        graft.operators.Ranks
          .distributedRank(q, Nil, Seq(col("logit_micro"), col("doc_id")))
          .withColumn("decile", expr("((rnk - 1) * 10) div n"))
          .groupBy(col("decile"))
          .agg(
            count(lit(1)).as("n_docs"),
            min(col("logit_micro")).as("min_logit"),
            max(col("logit_micro")).as("max_logit"),
            expr("CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) * 1000000" +
              " div count(1) AS BIGINT)").as("clf_keep_ppm"),
            expr("CAST(sum(CASE WHEN alpha_ppm >= 800000 AND stop_hits >= 1" +
              " AND n_words >= 50 THEN 1 ELSE 0 END) * 1000000 div count(1) AS BIGINT)")
              .as("rule_keep_ppm"))
          .orderBy(col("decile"))
      },
      Some(s"""WITH q AS ($qualityScoreOracle),
             r AS (SELECT q.*,
                 row_number() OVER (ORDER BY logit_micro, doc_id) AS rn,
                 count(*) OVER () AS nn
               FROM q),
             d AS (SELECT CAST((rn - 1) * 10 // nn AS BIGINT) AS decile,
                 logit_micro, verdict, alpha_ppm, stop_hits, n_words
               FROM r)
             SELECT decile, count(*) AS n_docs,
               CAST(min(logit_micro) AS BIGINT) AS min_logit,
               CAST(max(logit_micro) AS BIGINT) AS max_logit,
               CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END)
                 * 1000000 // count(*) AS BIGINT) AS clf_keep_ppm,
               CAST(sum(CASE WHEN alpha_ppm >= 800000 AND stop_hits >= 1
                 AND n_words >= 50 THEN 1 ELSE 0 END)
                 * 1000000 // count(*) AS BIGINT) AS rule_keep_ppm
             FROM d GROUP BY decile ORDER BY decile""")
    )
  )

  /** q175's language profiles: (lang, generator tail of that
    * language's function words, 10 literal character trigrams that
    * score it). A STAND-IN for trained n-gram profile tables (public
    * langid classifiers learn thousands of weighted grams; no model
    * runtime ships in this container) — the operator is the profile
    * SCORING plumbing. Trigrams are collision-audited against the
    * corpus vocabulary and the other languages' tails.
    */
  private[queries] def langProfiles: Seq[(String, String, Seq[String])] = Seq(
    ("de", "der die und das nicht von ist mit sich auf",
      Seq("der", "die", "und", "das", "nic", "von", "ist", "mit", "sic", "auf")),
    ("en", "the of and to in that it is was for",
      Seq("the", " of", "and", " to", " in", "tha", " it", " is", "was", "for")),
    ("es", "el los las para por con una mas esta cada",
      Seq("el ", "los", "las", "ara", "por", "con", "una", "mas", "sta", "cad")),
    ("fr", "le les des une est avec pour dans sur cette",
      Seq(" le", "les", "des", "une", "ave", "pou", "dan", "sur", "ett", "ans")),
    ("zh", "shi bu zai ren you ta zhe zhong wei dao",
      Seq("shi", "zai", "ren", "you", "zhe", "zho", "wei", "dao", "ong", "hi "))
  )

  /** q175's generator: the doc's text suffixed with its language's
    * function-word tail repeated 3 + doc_id % 3 times. Dialect-shared
    * SQL (CASE/repeat/|| behave identically in both engines).
    */
  private[queries] def langAugSql: String = {
    val cases = langProfiles.map { case (l, t, _) => s"WHEN '$l' THEN '$t'" }.mkString(" ")
    s"text || ' ' || repeat((CASE lang $cases END) || ' ', 3 + doc_id % 3)"
  }

  /** Characters of `aug` covered by a profile's trigrams —
    * length-minus-replace counting, dialect-shared (no division, so
    * no Spark-div-vs-DuckDB-floor concern; all grams are length 3,
    * making this 3x the occurrence count).
    */
  private[queries] def langScoreSql(grams: Seq[String]): String =
    grams.map(g => s"(length(aug) - length(replace(aug, '$g', '')))").mkString(" + ")

  /** Argmax over the five score columns with a fixed alphabetical
    * tiebreak — dialect-shared SQL.
    */
  private[queries] def langPredSql: String =
    """CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
            WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
            WHEN s_fr >= s_zh THEN 'fr'
            ELSE 'zh' END"""

  /** q169's DuckDB oracle — shared verbatim by q170's streaming replay
    * (same transform, streaming source), so the two gates can never
    * drift. (A def: `entries` vals interpolate eagerly.)
    */
  private[graft] def qualityScoreOracle: String =
    s"""WITH $toksCte,
             f AS (
               SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 $qualityFeatures
               FROM t WHERE len(toks) >= 1)
             SELECT doc_id, n_words, mean_wlen_micro, alpha_ppm, ttr_ppm, stop_hits,
               CAST($qualityLogitSql AS BIGINT) AS logit_micro,
               CASE WHEN $qualityLogitSql >= 0 THEN 'keep' ELSE 'drop' END AS verdict
             FROM f ORDER BY doc_id"""

  /** q169's body — per-doc quality features + fixed-weight logit +
    * verdict. STATELESS narrow ops only, so the identical plan runs
    * over a batch scan (q169) or an unbounded stream (q170) with no
    * state store at all — the Structured Streaming form of "curation
    * logic is just a transform".
    */
  private[graft] def qualityScore(
      docs: org.apache.spark.sql.DataFrame,
      extra: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id") +: extra.map(col) :+ toksExpr.as("toks"): _*)
      .filter(size(col("toks")) >= 1)
      .select(
        (col("doc_id") +: extra.map(col)) ++ Seq(
          size(col("toks")).cast("long").as("n_words"),
          expr("(aggregate(toks, 0L, (a, x) -> a + length(x)) * 1000000) div size(toks)")
            .as("mean_wlen_micro"),
          expr("(cast(size(filter(toks, x -> regexp_like(x, '[a-z]'))) as bigint) * 1000000) div size(toks)")
            .cast("long").as("alpha_ppm"),
          expr("(cast(size(array_distinct(toks)) as bigint) * 1000000) div size(toks)")
            .cast("long").as("ttr_ppm"),
          expr("""size(array_intersect(array_distinct(toks),
                 array('the','be','to','of','and','that','have','with')))""")
            .cast("long").as("stop_hits")
        ): _*
      )
      .withColumn("logit_micro", expr(qualityLogitSql))
      .withColumn(
        "verdict",
        when(col("logit_micro") >= 0L, lit("keep")).otherwise(lit("drop"))
      )

  /** q169's fixed linear weights — a STAND-IN for a trained quality
    * classifier's coefficients (DCLM/FineWeb run a learned model here;
    * no model runtime ships in this container). The operator is the
    * scoring PLUMBING: narrow feature extraction, literal weight
    * application, thresholding — swap these constants for trained
    * weights and nothing else changes. Magnitudes chosen so each
    * feature contributes comparably at corpus-typical values.
    * Dialect-shared SQL over the feature columns.
    */
  private[queries] def qualityLogitSql: String =
    """(-15000000
       + mean_wlen_micro
       + 5 * alpha_ppm
       + 10 * ttr_ppm
       + 3000000 * stop_hits
       + 20000 * least(n_words, 500))"""

  /** The combined Gopher keep condition over the rule columns —
    * dialect-shared SQL (identical thresholds in both engines;
    * published A1.1/A1.2 values, scaled to ppm/micro units).
    */
  private def gopherVerdictSql: String =
    """n_words >= 50 AND n_words <= 100000
       AND mean_wlen_micro >= 3000000 AND mean_wlen_micro <= 10000000
       AND symbol_ppm <= 100000
       AND bullet_ppm <= 100000 AND ellipsis_ppm <= 300000
       AND alpha_ppm >= 800000 AND stop_hits >= 2
       AND dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
       AND top2_ppm <= 200000 AND top3_ppm <= 180000 AND top4_ppm <= 160000
       AND dup5_ppm <= 150000 AND dup10_ppm <= 100000"""
}
