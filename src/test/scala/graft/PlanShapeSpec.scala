package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties that make these queries
  * scale are physical-plan facts, not just results — pin them so a
  * refactor that silently loses pushdown/broadcast/top-k shape fails CI.
  */
class PlanShapeSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.01"
  private lazy val spark = Engine.session("test")

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q02: predicates and pruned schema reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(800))
    // only the needed columns are read
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int"), p.take(800))
  }

  test("q04: small dimension is broadcast, aggregation is partial+final") {
    val p = plan("q04_brand_volume")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("partial_count"), p.take(800))
  }

  test("q11: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p = plan("q11_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q60: per-query top-k uses WindowGroupLimit partial pushdown") {
    val p = plan("q60_knn_bruteforce")
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(p.contains("graft_dot"), p.take(1500))
  }

  test("q01: aggregation combines map-side (partial_sum before exchange)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum"), p.take(800))
  }

  test("q66: non-equi band join plans the native interval-stab operator (no cartesian shuffle)") {
    val p = plan("q66_band_join")
    // the injected IntervalStabJoin strategy (Catalyst tier (c)) takes
    // this pattern from BroadcastNestedLoopJoin's O(I)-per-row scan to a
    // broadcast stabbing index
    assert(p.contains("IntervalStabJoin"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("q146: the 1000-band stab join plans the native operator, never a nested loop") {
    val p = plan("q146_price_bands")
    assert(p.contains("IntervalStabJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q67: correlated EXISTS plans as a semi join with the priority filter pushed to the scan") {
    val p = plan("q67_exists_correlated")
    assert(p.contains("LeftSemi"), p.take(1200))
    assert(p.contains("StringStartsWith(o_orderpriority,1)"), p.take(2000))
  }

  test("q26: grouping sets is one Expand + one aggregation pass, not three scans") {
    val p = plan("q26_grouping_sets")
    assert(p.contains("Expand"), p.take(1200))
    // one scan of lineitem feeds all three grouping sets
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(1200))
  }

  test("q27: range-frame window is a single Window over one sort") {
    val p = plan("q27_window_range")
    assert(p.contains("RangeFrame"), p.take(1500))
    assert("Window \\[".r.findAllIn(p).size == 1, p.take(1500))
  }

  test("q28: all four navigation functions share one window sort per spec") {
    val p = plan("q28_lag_lead")
    // two window specs (date-ordered, price-ordered) -> at most two sorts
    assert("Window".r.findAllIn(p).size <= 3, p.take(1500))
  }

  test("q64: the benchmark shingle set is broadcast — the corpus side never shuffles pre-join") {
    val p = plan("q64_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q89: the prefix sum never plans a global single-partition window over the data") {
    val p = plan("q89_token_budget")
    // the data-bearing windows are keyed on pid; the only unkeyed window
    // runs over the ~32-row per-partition offset table, behind its own
    // aggregation, and the offset table is broadcast back
    assert(p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q129: sequence packing never plans a global single-partition window over the data") {
    val p = plan("q129_sequence_pack")
    // same contract as q89: data-bearing cumsum is keyed on pid after a
    // range repartition; only the ~32-row offset table sorts globally
    assert(p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q141: the shuffle manifest never plans a global single-partition window over the data") {
    val p = plan("q141_shuffle_manifest")
    // same contract as q89/q129: the data-bearing row numbering is keyed
    // on pid after a range repartition; only the ~32-row offset table
    // sorts globally and it is broadcast back
    assert(p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q153: the quota split never plans a per-stratum window over the data") {
    val p = plan("q153_quota_split")
    // same contract as q89/q129/q141, per stratum: the data-bearing row
    // numbering is keyed on (pid, stratum) after a range repartition;
    // only the strata-x-partitions offset table windows by the stratum
    // key, and it is broadcast back
    assert(p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // a window whose partition spec is the BARE stratum key over the
    // hk-ordered data (one task sorts an entire stratum) must not appear
    assert(
      !p.matches("(?s).*windowspecdefinition\\(lang#\\d+[^)]*hk#.*"),
      p.take(3000)
    )
  }

  test("q188: BPE token accounting rides the scan — native encoder, no exchange before the sort") {
    val p = plan("q188_bpe_tokenize")
    // the whole computation is narrow per-row work over one documents
    // scan: the ONLY exchange allowed is the final presentation
    // orderBy's range exchange — nothing shuffles for the counts
    assert(p.contains("graft_bpe_doc_tokens"), p.take(1500))
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 1, s"q188 shuffles for per-row work ($exchanges exchanges):\n${p.take(1500)}")
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
  }

  test("q209: BPE training is one vocabulary exchange, then every merge round in one task") {
    val p = plan("q209_bpe_incremental_train")
    // the (word, freq) count is the only shuffle; the 256 rounds and
    // the step sort run in the coalesced task
    assert("Exchange".r.findAllMatchIn(p).length == 1, p.take(2500))
    assert(p.contains("Coalesce 1") && p.contains("MapPartitions"), p.take(2500))
  }

  test("q183: the adjacency cap is a bounded aggregate — no per-src window sort") {
    val p = plan("q183_random_walks")
    // the <=32-neighbor cap must come from the MinKByKey bounded
    // aggregate (map-side partial combine holds O(32) state per node
    // per task), never a row_number window partitioned by src — that
    // shape funnels a hub node's FULL adjacency through one task's
    // sort. The walk steps are min-struct aggregates, so the whole
    // executed plan must be window-free.
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate"), p.take(3000))
  }

  test("q161: the resampling rank never plans a single-partition window over the corpus") {
    val p = plan("q161_dsir_sample")
    // same contract as q89/q129/q141/q153: data-bearing row numbering is
    // keyed on pid after a range repartition; only the ~32-row offset
    // table windows globally and it is broadcast back
    assert(p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q138: the vocab is a top-k (never a full sort) and broadcasts onto the token stream") {
    val p = plan("q138_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q149: the stab strategy stands down on streaming inputs (stock stream-static join)") {
    // build the streaming side of q149 directly: the STREAMING logical
    // plan must not route through IntervalStabJoinExec (executeCollect
    // on an unbounded side would be wrong) — the builtin non-equi
    // stream-static join takes it
    val s = spark
    import s.implicits._
    val tiers = Seq(("small", -1e9, 10.0), ("mid", 10.0, 60.0), ("large", 60.0, 1e9))
      .toDF("tier", "lo", "hi")
    val stream = graft.streaming.EventStreaming
      .eventsStream(s, dir)
      .join(tiers, org.apache.spark.sql.functions.col("value") >= org.apache.spark.sql.functions.col("lo") &&
        org.apache.spark.sql.functions.col("value") < org.apache.spark.sql.functions.col("hi"))
    // streaming plans can't executedPlan without a sink; the analyzed +
    // optimized streaming plan is enough to prove strategy selection at
    // the micro-batch level via an explain on a one-batch run
    val q = stream.writeStream
      .format("memory")
      .queryName("q149_planshape")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf)) { q.explain() }
      val p = buf.toString
      assert(!p.contains("IntervalStabJoin"), p.take(1500))
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    } finally {
      q.stop()
      spark.catalog.dropTempView("q149_planshape")
    }
  }

  test("q145: the PQ codebook broadcasts; vectors never shuffle for assignment") {
    val p = plan("q145_pq_codes")
    // the 128-row book joins each subvector row on its subspace m,
    // broadcast (lloydAssign); nothing sort-merges or enumerates pairs
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q131: the per-source rate table broadcasts; the corpus side never shuffles for it") {
    val p = plan("q131_mixture_apply")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q125: the shard manifest aggregates map-side before its one exchange") {
    val p = plan("q125_shard_manifest")
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q57: embedding dedup joins on band buckets, never a label-only self-join") {
    val p = plan("q57_embedding_dedup")
    // candidate generation must key the join on the (label, band, value)
    // bucket — an equi-join containing the band columns; a label-only
    // self-join (the O(n^2/labels) all-pairs shape) would show a join
    // whose only equality key is the label
    assert(p.contains("band"), p.take(3000))
    // every equi-join keyed on label must also carry the band/value keys
    val joinKeyLists =
      """(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)(?:\w*)? \[([^\]]*)\]""".r
        .findAllMatchIn(p)
        .map(_.group(1))
        .toList
    assert(joinKeyLists.nonEmpty, p.take(2000))
    joinKeyLists.filter(_.contains("label")).foreach { keys =>
      assert(
        keys.contains("band") || keys.contains("bv"),
        s"label-only join keys: $keys in\n${p.take(2000)}"
      )
    }
  }

  // The explode-barrier guards: Generate(explode(arr)) plants an implicit
  // isnotnull/size filter that INLINES the array-construction DAG, and
  // filter pushdown drags it below the repartition onto the single-file
  // scan — measured as ONE task grinding 39 CPU-minutes at the 10x
  // replica before the q150/q151/q154 barriers landed. The barrier is a
  // localCheckpoint of the (doc_id, array) projection, so the consumer
  // plan must read a materialized RDD and contain NEITHER a file scan
  // nor the construction expressions (nothing left for pushdown to drag).
  private def assertExplodeBarrier(q: String, constructionMarker: String): Unit = {
    val p = plan(q)
    assert(p.contains("ExistingRDD"), s"$q consumer does not read the barrier RDD:\n${p.take(3000)}")
    assert(!p.contains("FileScan"), s"$q consumer re-scans the source below the barrier:\n${p.take(3000)}")
    assert(
      !p.contains(constructionMarker),
      s"$q construction DAG ($constructionMarker) leaked past the barrier into the consumer plan:\n${p.take(3000)}"
    )
  }

  test("q151: winnow fingerprint construction is barriered before the explode") {
    assertExplodeBarrier("q151_winnow_pairs", "graft_chargram_md5s")
  }

  test("q154: gram construction is barriered before the explode") {
    assertExplodeBarrier("q154_ngram_novelty", "graft_gram_md5s")
  }

  test("q150: aHash construction is barriered before the band explode") {
    assertExplodeBarrier("q150_phash_neardup", "0123456789abcdef")
  }

  test("q156: gram-hash construction is barriered before the explode") {
    assertExplodeBarrier("q156_dup_spans", "graft_gram_md5s")
  }

  test("q157: the dup-fraction reuses q156's barriered span pipeline") {
    // the span side must read the materialized gram arrays; the only
    // FileScan allowed is the narrow (doc_id, n_toks) projection, which
    // must not have the gram construction inlined into it
    val p = plan("q157_dup_fraction")
    assert(p.contains("ExistingRDD"), p.take(3000))
    assert(
      !p.contains("graft_gram_md5s"),
      s"gram construction leaked past the barrier into the consumer plan:\n${p.take(3000)}"
    )
  }

  test("q155: bench bands broadcast for candidates; the hot-bucket cap never shuffles corpus rows") {
    val p = plan("q155_fuzzy_decontaminate")
    // candidate generation = broadcast hash join on the band bucket
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the cap is a broadcast anti-join of the aggregated hot-bucket
    // list, with the bucket counts combined map-side — never a
    // repartition+window over the full corpus band table
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("Window"), s"hot-bucket cap regressed to the window form:\n${p.take(3000)}")
  }

  test("q150: band buckets are capped via broadcast anti-join, never a corpus window") {
    val p = plan("q150_phash_neardup")
    // same cap idiom as q155: map-side-combined (bi, bv) counts, the
    // over-cap buckets broadcast back as a LeftAnti blacklist — the
    // exploded band table never reshuffles for the cap
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("Window"), s"hot-bucket cap regressed to the window form:\n${p.take(3000)}")
  }

  test("q151: the hot-fingerprint cap is a broadcast anti-join, never a window sort") {
    val p = plan("q151_winnow_pairs")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("Window"), s"hot-fp cap regressed to the window form:\n${p.take(3000)}")
  }

  test("q52: the LSH bucket cap is a broadcast anti-join — all four banded pipelines share the idiom") {
    val p = plan("q52_minhash_lsh")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("partial_count"), p.take(3000))
    assert(!p.contains("Window"), s"bucket cap regressed to the window form:\n${p.take(3000)}")
  }

  test("q167: the composite pipeline composes — shared survivor subtree, distributed ranks, bounded scans") {
    val df = SparkEntry.queries("q167_pipeline_manifest")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the exact-dedup survivor subtree feeds two consumers (fuzzy drop
    // list + anti-join); the localCheckpoint barrier means the scrub
    // runs once — visible as Scan ExistingRDD instead of a re-derivation
    assert(p.contains("ExistingRDD"), p.take(3000))
    // fuzzy dedup is an agg + anti-join, never pair enumeration
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // both the quota split and the manifest rank are the distributed
    // range-repartition form with broadcast offsets
    assert(p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the documents table is scanned a bounded number of times: once for
    // the span-gram pass and once for the scrub join (the oracle's two
    // logical uses) — a regression that re-derives the corpus per stage
    // would multiply this
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"documents scanned $scans times:\n${p.take(3000)}")
  }

  test("q173: the full recipe composite — ONE documents scan, distributed ranks, no pair enumeration") {
    // The scan-count claim must be asserted on the PRE-checkpoint
    // subtree: the composite's localCheckpoint replaces everything
    // upstream with an ExistingRDD in the final plan, so counting
    // scans there would pass vacuously at 0 no matter how many times
    // the stages re-read the corpus. recipeSurvivors is stages 1-5
    // without the checkpoint. Real count: TWO scans, and that is the
    // designed shape — the wide data path (with text) plus the
    // cap-offsets side, which Catalyst column-prunes to a narrow
    // (doc_id, lang, source) re-scan; at 100 TB re-reading 3 columns
    // of a columnar format is far cheaper than materializing the wide
    // rows to force exchange reuse. The pin: at most 2 scans, at most
    // ONE of which reads `text`.
    val stage = graft.queries.CurationOps.recipeSurvivors(spark, dir)
    val ps = stage.queryExecution.executedPlan.toString
    val scanSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(ps).toList
    assert(scanSchemas.size <= 2, s"documents scanned ${scanSchemas.size} times pre-checkpoint:\n${ps.take(3000)}")
    assert(scanSchemas.count(_.contains("text:string")) <= 1,
      s"more than one WIDE (text-carrying) scan: $scanSchemas")
    assert(!ps.contains("ExistingRDD"), "pre-checkpoint stage must not hide behind an RDD")
    // the exact-dedup stage is a single min_by aggregate, not a
    // keepers self-join
    assert(ps.contains("min_by"), ps.take(3000))

    val df = SparkEntry.queries("q173_recipe_manifest")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the checkpointed survivor subtree feeds two consumers and
    // appears as ExistingRDD — materialized once
    assert(p.contains("ExistingRDD"), p.take(3000))
    // downstream adds NO further parquet scans (everything derives
    // from the one materialized survivor set)
    assert(!p.contains("Scan parquet"), p.take(3000))
    // fuzzy dedup is an agg + anti-join, never pair enumeration
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // domain cap, quota split, and manifest rank are all the
    // range-repartition + broadcast-offsets distributed-rank form
    assert(p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q200: shuffle order comes from the distributed rank, never a shard-window funnel") {
    val p = plan("q200_epoch_shuffle")
    // positions must come from Ranks.distributedRank: range exchange on
    // (shard, ord) + broadcast offsets — a bare Window partitioned by
    // the 16 shard values would funnel the corpus through 16 sorts
    assert(p.contains("rangepartitioning"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q202: PQ training/encode joins only against the broadcast codebook") {
    val p = plan("q202_pq_encode")
    // every codebook join (init assign, refined assign) broadcasts the
    // 128-row codebook; the native integer-L2 kernel is in the plan;
    // nothing sort-merges or enumerates pairs
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("graft_l2sq"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q212: the exact re-rank stage touches only candidate rows — broadcast fetch, no cartesian") {
    val p = plan("q212_ivfadc_rerank")
    // the refine stage's vector fetch joins the tiny (20 x 16-row)
    // candidate set against the corpus as a BROADCAST — one scan, only
    // candidate rows survive; nothing enumerates pairs. The native
    // integer-L2 kernel does every distance (ADC lookup build, exact
    // re-rank, brute baseline).
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("graft_l2sq"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q206: the probe answers from the artifact — one embeddings scan, broadcast-only joins") {
    val p = plan("q206_ivfadc_probe")
    // build->probe split, physically: training never appears in the
    // probe plan. The corpus is served ONLY from the persisted index —
    // all three FileScans read the annidx artifact (coarse, codebook,
    // codes); the single non-artifact input is the checkpointed 20-row
    // query batch (one ExistingRDD), never an embeddings.parquet scan
    assert(!p.contains("embeddings.parquet"), p.take(3000))
    assert("FileScan".r.findAllIn(p).size == 3, p.take(3000))
    assert("annidx".r.findAllIn(p).size == 3, p.take(3000))
    assert("Scan ExistingRDD".r.findAllIn(p).size == 1, p.take(3000))
    // the per-probe M x K lookup table broadcasts onto the codes table
    // (the one data-sized join); nothing sort-merges or goes cartesian
    // (the 16-row coarse quantizer rides a broadcast nested loop)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // THE ROUND-12 FIX, pinned at the scan: the probed-list restriction
    // reaches the codes FileScan as a pushed LITERAL ccid predicate
    // (In/InSet from the bounded driver fetch), not merely as a join
    // condition above the unpack-explode — round 12's executed plan
    // showed PushedFilters [IsNotNull(vec_id), IsNotNull(ccid)] only,
    // i.e. every probe scanned (and x8-exploded) the whole artifact
    assert("In\\(ccid, \\[".r.findFirstIn(p).isDefined, p.take(3000))
  }

  test("ivfadcProbeIndex: a single query's codes scan pushes exactly its nprobe probed lists") {
    // the pruning's operating case — one serving request: the pushed
    // literal set must be exactly that query's nprobe cells, so the
    // ccid-clustered artifact row-group-prunes to 2/16 lists (the union
    // over q206's full 20-query contract legitimately widens; this pins
    // the per-request economics the inverted-list layout exists for)
    val S = graft.queries.SimilarityOps
    val idx = S.buildIvfAdcIndex(spark, dir)
    val q1 = S
      .ivecs(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 17)
      .select(
        org.apache.spark.sql.functions.col("vec_id").as("qid"),
        org.apache.spark.sql.functions.col("iv").as("qiv"))
    val probed = S.probedCcids(q1, spark.read.parquet(s"$idx/coarse"), nprobe = 2)
    assert(probed.length == 2, s"probed set $probed")
    val p = S.ivfadcProbeIndex(spark, idx, q1, k = 16)
      .queryExecution.executedPlan.toString
    val pushed = s"In\\(ccid, \\[${probed.mkString(",")}\\]".r
    assert(pushed.findFirstIn(p).isDefined, p.take(3000))
  }

  test("q224: the filtered serve keeps the pruned scan and broadcast-only joins") {
    // the serve now executes as TWO plans (round-18 §3: probe fetch ->
    // literal refine), so the probed-list pruning is pinned on the
    // PROBE plan and the candidate pruning on the returned REFINE plan
    val df = SparkEntry.queries("q224_ann_filtered_serve")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the refine stage's vector fetch is pruned to the candidate set
    // as pushed literals — never a full-corpus scan per request
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    val S = graft.queries.SimilarityOps
    import org.apache.spark.sql.functions._
    val idx = S.buildIvfAdcIndex(spark, dir, k = 256, rounds = 2)
    val q = S.ivecs(spark, dir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val probe = S.ivfadcProbeIndex(
      spark, idx, q, k = 256, topN = 16, nprobe = 4,
      where = Some(col("vec_id") % 3 === 1))
    val pp = probe.queryExecution.executedPlan.toString
    // the metadata predicate must not cost the probe its list pruning:
    // the codes FileScan still carries the pushed LITERAL ccid set
    assert("In\\(ccid, \\[".r.findFirstIn(pp).isDefined, pp.take(3000))
    // the in-scan predicate (vec_id % 3 = 1) sits in a Filter DIRECTLY
    // over the codes relation — BELOW the x8 unpack-explode, fused with
    // the probed-list restriction, so a tight filter shrinks the
    // explode's input (a plan-string contains() check is vacuous here:
    // '(vec_id' appears in every serve plan via the query-frame filter;
    // this is the structural fact the round-12 pruning bug teaches to
    // verify, not grep)
    val codesScanFilters = probe.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.child match {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation
              if r.relation.isInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
                r.relation
                  .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                  .location.rootPaths.mkString(",").contains("/codes/") =>
            Some(f.condition.toString)
          case _ => None
        }
    }.flatten
    assert(
      codesScanFilters.exists(c => c.contains("% 3") && c.contains("ccid")),
      s"no fused (ccid IN, vec_id % 3) filter directly over the codes relation:\n" +
        codesScanFilters.mkString("\n"))
    // both stages stay broadcast-only (probe lookup tables, candidate
    // fetch, refine stage) — nothing sort-merges or goes cartesian
    // when a predicate is added
    assert(pp.contains("BroadcastHashJoin"), pp.take(3000))
    assert(!pp.contains("SortMergeJoin"), pp.take(3000))
    assert(!pp.contains("CartesianProduct"), pp.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q229: BM25 ranks via distributed top-k; the term filter is a broadcast join") {
    val p = plan("q229_bm25_rank")
    // the global top-20 must be TakeOrderedAndProject (a corpus-wide
    // single-partition window would move every scored doc to one task)
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // query terms prune the token stream via a broadcast hash join (3
    // rows broadcast onto the exploded tokens, before the tf shuffle);
    // collection stats ride 1-row broadcasts — nothing sort-merges
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q230: both retrieval legs take distributed top-20s; fusion joins two bounded lists") {
    val p = plan("q230_hybrid_rrf")
    // one TakeOrderedAndProject per leg
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q231: the label-constrained serve keeps the pruned scan; mining stays broadcast-only") {
    val p = plan("q231_hard_negative_mining")
    // the serve executes as probe fetch -> literal refine (round-18
    // §3; the probe's In(ccid) pruning is pinned by the generic
    // ivfadcProbeIndex test and q224's filtered probe): the returned
    // refine plan must fetch ONLY the candidate rows as pushed
    // literals — never a full-corpus scan per request
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q232: MaxSim re-ranks a bounded candidate set — per-query group limits, no cartesian") {
    val p = plan("q232_maxsim_rerank")
    // first-stage top-16 per query is a group-limit, never a global sort
    assert(p.contains("WindowGroupLimit"), p.take(2500))
    assert(!p.contains("SortMergeJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("q233: both PRF rounds rank via distributed top-k; expansion mining is broadcast") {
    val p = plan("q233_rm3_expansion")
    // round-1 feedback page, the 5-term mine, and the round-2 page —
    // each a TakeOrderedAndProject over its bounded output
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 3, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q234: the per-source collapse is a group limit; the page is a distributed top-k") {
    val p = plan("q234_collapsed_topk")
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q244: the served dense leg keeps its pushed probed-list literals through the fusion") {
    val p = plan("q244_hybrid_rrf_served")
    // the one claim this composition exists to gate physically: the
    // dense leg's per-request economics survive the fusion. The serve
    // executes as probe fetch -> literal refine (round-18 §3), so the
    // fused plan must carry the candidate-literal vector fetch (the
    // probe's own In(ccid) pruning is pinned by the probe tests)
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    // both legs page via distributed top-k; fusion joins bounded lists
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q245: the graded serve keeps the pruned scan; metrics stay broadcast-only") {
    val p = plan("q245_served_metrics")
    // probe fetch -> literal refine (round-18 §3): candidate pruning
    // on the returned plan; probe pruning pinned by the probe tests
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q246: each phrase term is a key-range-pruned read of the positional index") {
    // build the live positional index via the gated lifecycle, then
    // check the SERVING read it performs per batch: each term's leg
    // must push its word literal to the postings scan (the clustered
    // segments stats-prune to that term's key range)
    SparkEntry.queries("q246_phrase_stream_index")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q246", dir)
    val post = graft.operators.TieredIndex.read(spark, s"$work/postings")
    val p = graft.queries.RetrievalOps
      .phraseRank(post, Seq("slow", "hash", "batch"))
      .queryExecution.executedPlan.toString
    for (w <- Seq("slow", "hash", "batch"))
      assert(
        s"EqualTo\\(word,$w\\)".r.findFirstIn(p).isDefined,
        s"term '$w' not pushed to the postings scan:\n" + p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    Engine.releaseScratch(spark)
  }

  test("q248: a cached-epoch request pushes its terms as literals to the postings scan") {
    // the serving read shape q248 gates: terms as pushed IN-literals
    // (a broadcast-join restriction never reaches the scan)
    SparkEntry.queries("q248_bm25_epoch_cached_serve")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q248", dir)
    val R = graft.queries.RetrievalOps
    val post = graft.operators.TieredIndex.read(spark, s"$work/postings")
    val dl = post.groupBy(org.apache.spark.sql.functions.col("doc_id"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("tf")).as("dl"))
    val p = R.bm25Score(R.termTfPushed(post, Seq("hash", "join", "spark")), dl, R.statsOf(dl))
      .queryExecution.executedPlan.toString
    assert("In\\(word, \\[hash,join,spark\\]".r.findFirstIn(p).isDefined, p.take(3000))
    Engine.releaseScratch(spark)
  }

  test("q250: the live hybrid page keeps both legs' pruned reads under fusion") {
    // run the gated lifecycle, then re-derive the per-batch hybrid
    // page from the two LIVE indexes it left behind and pin its shape
    SparkEntry.queries("q250_hybrid_live_serve")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q250", dir)
    val S = graft.queries.SimilarityOps
    val R = graft.queries.RetrievalOps
    import org.apache.spark.sql.functions._
    val iv = S.ivecs(spark, dir)
    val q7 = iv.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val qTerms = Engine.table(spark, dir, "documents")
      .filter(col("doc_id") === 7)
      .select(explode(graft.queries.Tokenize.toksExpr).as("word"))
      .distinct()
    val wL = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val lex = R.bm25FromPostings(
        graft.operators.TieredIndex.read(spark, s"$work/postings"), qTerms)
      .filter(col("doc_id") =!= 7)
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .withColumn("lex_rk", row_number().over(wL).cast("long"))
      .select(col("doc_id"), col("lex_rk"))
    val vec = S.ivfadcServe(spark, work.toString, q7, iv, k = 16, candN = 32, topN = 20)
      .select(col("vec_id").as("doc_id"), col("rn").as("vec_rk"))
    val p = R.rrfFuse(lex, vec).queryExecution.executedPlan.toString
    // the dense leg executes as probe fetch -> literal refine
    // (round-18 §3; probe In(ccid) pruning pinned by the probe tests):
    // the fused plan keeps the candidate-literal vector fetch, and
    // nothing goes cartesian
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    Engine.releaseScratch(spark)
  }

  test("q251: each proximity term is a key-range-pruned read; the gap is a range predicate on an equi-join") {
    val p = plan("q251_proximity_rank")
    for (w <- Seq("hash", "table"))
      assert(
        s"EqualTo\\(word,$w\\)".r.findFirstIn(p).isDefined,
        s"term '$w' not pushed to the postings scan:\n" + p.take(3000))
    // pair matching joins on doc_id (equi) — a cartesian/NLJ would
    // mean the join lost its key
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q252: the batched hybrid eval keeps the pruned dense scan and per-query group limits") {
    val p = plan("q252_hybrid_system_metrics")
    // the dense leg (all 20 queries in one serve) executes as probe
    // fetch -> literal refine (round-18 §3): ONE candidate-literal
    // vector fetch for the whole batch rides the returned plan (the
    // probe's own In(ccid) pruning is pinned by the probe tests)
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    // the batched lexical leg's per-query top-20 is a group limit,
    // never a corpus sort; nothing goes cartesian
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q242: phrase adjacency is an equi-join on (doc, position), page is a top-k") {
    val p = plan("q242_phrase_rank")
    // the page is a distributed top-k; adjacency joins positions —
    // a sort-merge here is FINE at scale (two positional lists can
    // both be large), but a cartesian/NLJ would mean the join lost
    // its (doc_id, p) equi-keys
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2500))
  }

  test("q255: the retracted hybrid page masks via broadcast anti-joins and keeps both pruned reads") {
    // run the gated CDC lifecycle, then pin the SERVING read shape it
    // leaves behind: the lexical leg's tombstone masks must plan as
    // BROADCAST anti-joins on the postings read (a sort-merge anti
    // would shuffle the whole index per request), and the dense leg
    // keeps its pushed probed-list literals under the fusion
    SparkEntry.queries("q255_hybrid_cdc_retract")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q255", dir)
    // NOTE: by stream end the LSM may have major-compacted the
    // tombstones away entirely (they did their job and were absorbed
    // — the bounded steady state). The LIVE-tombstone read shape is
    // pinned unconditionally by the "retraction read shape" test
    // below; here we pin the serving composition.
    val S = graft.queries.SimilarityOps
    val R = graft.queries.RetrievalOps
    import org.apache.spark.sql.functions._
    val iv = S.ivecs(spark, dir)
    val q7 = iv.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val qTerms = Engine.table(spark, dir, "documents")
      .filter(col("doc_id") === 7)
      .select(explode(graft.queries.Tokenize.toksExpr).as("word"))
      .distinct()
    val wL = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    val lex = R.bm25FromPostings(
        graft.operators.TieredIndex.read(spark, s"$work/postings"), qTerms)
      .filter(col("doc_id") =!= 7)
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .withColumn("lex_rk", row_number().over(wL).cast("long"))
      .select(col("doc_id"), col("lex_rk"))
    val vec = S.ivfadcServe(spark, work.toString, q7, iv, k = 16, candN = 32, topN = 20)
      .select(col("vec_id").as("doc_id"), col("rn").as("vec_rk"))
    val p = R.rrfFuse(lex, vec).queryExecution.executedPlan.toString
    assert(!"SortMergeJoin .*LeftAnti".r.findFirstIn(p).isDefined, p.take(3000))
    // probe fetch -> literal refine (round-18 §3): candidate pruning
    // on the fused plan; probe pruning pinned by the probe tests
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    Engine.releaseScratch(spark)
  }

  test("q260: the full-matrix lifecycle swaps generations, seeds both watermarks, serves pruned") {
    SparkEntry.queries("q260_hybrid_full_cdc_retrain")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q260", dir)
    val root = s"$work/ann"
    val G = graft.operators.Generations
    val T = graft.operators.TieredIndex
    // the swap happened, is in the pointer history at mark 2, and the
    // green generation carried BOTH seeded watermarks forward through
    // batch 3's append+delete
    assert(G.resolve(root).endsWith("gen-00001"), G.history(root).toString)
    assert(G.resolveAsOf(root, 1L).endsWith("gen-00000"), G.history(root).toString)
    assert(T.lastBatch(s"${G.resolve(root)}/codes") == 3L)
    assert(T.lastDeleteBatch(s"${G.resolve(root)}/codes") == 3L)
    val S = graft.queries.SimilarityOps
    import org.apache.spark.sql.functions._
    val iv = S.ivecs(spark, dir)
    val q7 = iv.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val p = S.ivfadcServe(spark, G.resolve(root), q7, iv, k = 16, candN = 32, topN = 20)
      .queryExecution.executedPlan.toString
    // probe fetch -> literal refine (round-18 §3)
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    Engine.releaseScratch(spark)
  }

  test("retraction read shape: live tombstone masks plan as broadcast anti-joins") {
    // the per-request cost claim behind q255/q258's retractions: a
    // doc-keyed tombstone is tiny by construction, so the masked read
    // must anti-join it BROADCAST — a sort-merge anti would shuffle
    // the whole index per request. Pinned on a live-tombstone state
    // (before maintenance absorbs it).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val T = graft.operators.TieredIndex
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_plan_tombshape"
    Engine.deleteRecursively(new java.io.File(d))
    T.create(
      spark, d, (0 until 500).map(i => (i.toLong, s"w$i")).toDF("doc_id", "word"),
      2, Seq(col("word"), col("doc_id")))
    T.delete(spark, d, Seq(1L, 3L).toDF("doc_id"))
    val p = T.read(spark, d).queryExecution.executedPlan.toString
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(p).isDefined, p.take(2500))
    assert(!"SortMergeJoin .*LeftAnti".r.findFirstIn(p).isDefined, p.take(2500))
    Engine.releaseScratch(spark)
  }

  test("q259: every historical hybrid page keeps the pruned codes scan under its fusion") {
    // the gated result IS the four post-hoc pages (no parquet
    // read-back): each page's dense leg must push its probed-list
    // literals to that snapshot's codes scan, composed under RRF
    val p = plan("q259_hybrid_page_time_travel")
    // each page's dense leg executes as probe fetch -> literal refine
    // (round-18 §3): the four refine legs each carry their
    // candidate-literal vector fetch (probe In(ccid) pruning is pinned
    // by the probe tests and exercised per snapshot by the fetch)
    assert("vec_id#\\d+L INSET".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q256: every cross-generation as-of serve keeps the pruned codes scan") {
    // the gated result IS the four as-of serves (no parquet
    // read-back), so the executed plan carries each snapshot probe:
    // the probed-list literals must reach every generation's codes
    // scan, and nothing may go cartesian
    val p = plan("q256_generation_time_travel")
    // probe fetch -> literal refine (round-18 §3): four as-of refine
    // legs, each with its candidate-literal vector fetch
    assert("vec_id#\\d+L INSET".r.findAllIn(p).size >= 4, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q257: the post-swap hybrid page serves the GREEN generation with pruned reads") {
    SparkEntry.queries("q257_hybrid_retrain_swap")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q257", dir)
    val root = s"$work/ann"
    val G = graft.operators.Generations
    // the swap happened and the pointer history recorded it at mark 2
    assert(G.resolve(root).endsWith("gen-00001"), G.history(root).toString)
    assert(G.resolveAsOf(root, 1L).endsWith("gen-00000"), G.history(root).toString)
    val S = graft.queries.SimilarityOps
    import org.apache.spark.sql.functions._
    val iv = S.ivecs(spark, dir)
    val q7 = iv.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    // the live post-swap dense request: pruned scan against the
    // RETRAINED generation's codes
    val p = S.ivfadcServe(spark, G.resolve(root), q7, iv, k = 16, candN = 32, topN = 20)
      .queryExecution.executedPlan.toString
    // probe fetch -> literal refine (round-18 §3)
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    Engine.releaseScratch(spark)
  }

  test("q258: the upserted indexes read with broadcast tombstone masks on both legs") {
    SparkEntry.queries("q258_cdc_upsert_lifecycle")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q258", dir)
    val T = graft.operators.TieredIndex
    import org.apache.spark.sql.functions._
    // any tombstone still live after the stream must mask broadcast,
    // never sort-merge (absorption by a major is equally acceptable —
    // the unconditional live-tomb shape is pinned separately)
    val pLex = T.read(spark, s"$work/postings")
      .queryExecution.executedPlan.toString
    assert(!"SortMergeJoin .*LeftAnti".r.findFirstIn(pLex).isDefined, pLex.take(3000))
    val S = graft.queries.SimilarityOps
    val iv = S.ivecs(spark, dir)
    val q7 = iv.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val pVec = S.ivfadcServe(spark, work.toString, q7, iv, k = 16, candN = 32, topN = 10)
      .queryExecution.executedPlan.toString
    assert(!"SortMergeJoin .*LeftAnti".r.findFirstIn(pVec).isDefined, pVec.take(3000))
    // probe fetch -> literal refine (round-18 §3)
    assert("vec_id#\\d+L INSET".r.findFirstIn(pVec).isDefined, pVec.take(3000))
    assert(!pVec.contains("CartesianProduct"), pVec.take(3000))
    Engine.releaseScratch(spark)
  }

  test("q261: the rollback restores BLUE current AND caught up to the stream watermark") {
    SparkEntry.queries("q261_rollback_catchup")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q261", dir)
    val root = s"$work/ann"
    val G = graft.operators.Generations
    val T = graft.operators.TieredIndex
    // the pointer history records the swap (mark 2) then the rollback
    // (mark 3): the audit trail answers both eras correctly
    assert(G.resolve(root).endsWith("gen-00000"), G.history(root).toString)
    assert(G.resolveAsOf(root, 2L).endsWith("gen-00001"), G.history(root).toString)
    assert(G.resolveAsOf(root, 3L).endsWith("gen-00000"), G.history(root).toString)
    // THE catch-up observable: blue's codes watermark reached the
    // stream's last batch — the frozen gap (batches 2..3) was
    // re-driven before the pointer moved
    assert(
      T.lastBatch(s"${G.resolve(root)}/codes") == 3L,
      "rollback served a generation frozen behind the stream watermark")
    // the post-rollback serve keeps the pruned read against blue
    val S = graft.queries.SimilarityOps
    import org.apache.spark.sql.functions._
    val iv = S.ivecs(spark, dir)
    val q7 = iv.filter(col("vec_id") === 7)
      .select(col("vec_id").as("qid"), col("iv").as("qiv"))
    val p = S.ivfadcServe(spark, G.resolve(root), q7, iv, k = 16, candN = 32, topN = 20)
      .queryExecution.executedPlan.toString
    // probe fetch -> literal refine (round-18 §3)
    assert("vec_id#\\d+L INSET".r.findFirstIn(p).isDefined, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    Engine.releaseScratch(spark)
  }

  test("q263: the batched msearch's pruned scans are bounded by the plan, not by N requests") {
    val p = plan("q263_hybrid_msearch")
    // the batch's dense leg executes as probe fetch -> literal refine
    // (round-18 §3): ONE candidate-literal vector fetch serves the
    // whole 20-query batch — never N per-request scans (the probe's
    // single pushed In(ccid) scan is pinned by the probe tests)
    val nVec = "vec_id#\\d+L INSET".r.findAllIn(p).size
    assert(nVec >= 1 && nVec <= 2, s"candidate-pruned scans = $nVec\n" + p.take(3000))
    // the batch's distinct words as ONE pushed word-list literal; the
    // term-tf subtree appears twice in the DAG (the df pass + the
    // scoring pass) — still plan-bounded, not request-bounded
    val nWord = "In\\(word, \\[".r.findAllIn(p).size
    assert(nWord >= 1 && nWord <= 2, s"word-pruned scans = $nWord\n" + p.take(3000))
    // per-request top-k is a group limit, never a corpus sort
    assert(p.contains("WindowGroupLimit"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q265: the full-matrix rollback catches up BOTH watermarks before the pointer moves") {
    SparkEntry.queries("q265_full_cdc_rollback")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q265", dir)
    val root = s"$work/ann"
    val G = graft.operators.Generations
    val T = graft.operators.TieredIndex
    assert(G.resolve(root).endsWith("gen-00000"), G.history(root).toString)
    assert(G.resolveAsOf(root, 2L).endsWith("gen-00001"), G.history(root).toString)
    assert(G.resolveAsOf(root, 3L).endsWith("gen-00000"), G.history(root).toString)
    // the catch-up observable, BOTH mutation kinds: a rollback that
    // replayed only arrivals would leave the delete watermark frozen
    // (resurrecting every doc retracted while green served)
    val codes = s"${G.resolve(root)}/codes"
    assert(
      T.lastBatch(codes) == 3L,
      "rollback served a generation with a frozen append watermark")
    assert(
      T.lastDeleteBatch(codes) == 3L,
      "rollback served a generation with a frozen delete watermark")
    Engine.releaseScratch(spark)
  }

  test("q264: the CDC positional serve keeps per-term pruned reads") {
    SparkEntry.queries("q264_phrase_cdc_lifecycle")(spark, dir).count(): Unit
    val work = Engine.scratchDir("q264", dir)
    val post = graft.operators.TieredIndex.read(spark, s"$work/postings")
    val p = graft.queries.RetrievalOps
      .phraseRank(post, Seq("slow", "hash", "batch"))
      .queryExecution.executedPlan.toString
    for (w <- Seq("slow", "hash", "batch"))
      assert(
        s"EqualTo\\(word,$w\\)".r.findFirstIn(p).isDefined,
        s"term '$w' not pushed to the postings scan:\n" + p.take(3000))
    // any tombstone still live after the CDC stream masks broadcast,
    // never sort-merge (absorption by a major is equally acceptable)
    assert(!"SortMergeJoin .*LeftAnti".r.findFirstIn(p).isDefined, p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    Engine.releaseScratch(spark)
  }
}
