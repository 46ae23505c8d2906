package graft.queries

import graft.{Engine, QueryDef}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ETL-shape operators: skew-safe salted joins and CDC-style snapshot
  * diffing. Additive to the reference (SURVEY §2.3 — no joins at all);
  * these are the shapes a 100 TB pipeline leans on when AQE's runtime
  * skew handling isn't available (static plans, non-AQE engines) or when
  * change capture must be computed from full snapshots.
  */
object EtlOps {

  /** Inner equi-join with explicit key salting: the left (fact) side
    * derives a deterministic salt in [0, buckets) from its full row key,
    * the right (dimension) side is replicated `buckets` times, and the
    * join key becomes (key, salt) — a hot key's rows land on `buckets`
    * shuffle partitions instead of one. Semantically identical to
    * left.join(right, key): every left row matches exactly its one
    * replica of the right row. Use when one key holds a double-digit
    * percentage of the fact table; costs a `buckets`x blowup of the
    * (small) right side.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      saltSource: Column,
      buckets: Int
  ): DataFrame = {
    // scratch column: fail loudly rather than silently clobber a user
    // column of the same name (drop-by-name below removes all matches)
    val salt = "_graft_salt"
    require(
      !left.columns.contains(salt) && !right.columns.contains(salt),
      s"saltedJoin: inputs must not already have a '$salt' column"
    )
    val l = left.withColumn(salt, pmod(hash(saltSource), lit(buckets)))
    val r = right.withColumn(salt, explode(array((0 until buckets).map(lit): _*)))
    l.join(r, leftKey === rightKey && l(salt) === r(salt)).drop(salt)
  }

  /** The synthetic snapshot pair + classified change set shared by q107
    * (diff) and q109 (merge apply): new snapshot = old with keys %7=0
    * deleted, %10=0 repriced by +1.0 (exact in IEEE754 at these
    * magnitudes), %13=0 re-inserted under a shifted key range. One
    * derivation so the closure property q109 proves (apply(old,
    * diff(old, new)) == new) cannot drift between the two queries.
    * The re-insert shift is 2^40 — far above any reachable o_orderkey
    * (~6M * SF), so shifted keys can never collide with genuine ones
    * at any scale factor this would run at.
    */
  private def snapshotChanges(
      s: org.apache.spark.sql.SparkSession,
      dir: String
  ): (DataFrame, DataFrame) = {
    val old = Engine
      .table(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    val neu = old
      .filter(col("k") % 7 =!= 0)
      .withColumn("p", when(col("k") % 10 === 0, col("p") + 1.0).otherwise(col("p")))
      .union(old.filter(col("k") % 13 === 0).select((col("k") + (1L << 40)).as("k"), col("p")))
    val changes = old
      .as("o")
      .join(neu.as("n"), col("o.k") === col("n.k"), "full_outer")
      .select(
        coalesce(col("o.k"), col("n.k")).as("k"),
        col("n.p").as("new_p"),
        when(col("o.k").isNull, "insert")
          .when(col("n.k").isNull, "delete")
          .when(col("o.p") =!= col("n.p"), "update")
          .otherwise("unchanged")
          .as("op")
      )
      .filter(col("op") =!= "unchanged")
    (old, changes)
  }

  /** The two order snapshots as DuckDB CTEs: `old` = (k, p) and the
    * derived `neu` (the same rules as the Spark side above). A def:
    * `entries` interpolates eagerly.
    */
  private def snapshotsSql: String =
    """old AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
             neu AS (
               SELECT k, CASE WHEN k % 10 = 0 THEN p + 1.0 ELSE p END AS p
               FROM old WHERE k % 7 <> 0
               UNION ALL
               SELECT k + 1099511627776, p FROM old WHERE k % 13 = 0)"""

  val entries: Seq[QueryDef] = Seq(
    // --------------------------------------------------------------- q102
    // Salted fact-dim join: lineitem x orders on the order key with an
    // 8-way salt, aggregated to revenue per order priority. The oracle is
    // the PLAIN join — proving the salted plan is semantics-preserving.
    // (Here orderkey is uniform; the point is the reusable shape + the
    // equivalence guarantee, pinned against the unsalted oracle.)
    QueryDef(
      "q102_salted_join",
      (s, dir) => {
        val li = Engine.table(s, dir, "lineitem")
        val ord = Engine.table(s, dir, "orders")
        saltedJoin(
          li,
          ord,
          col("l_orderkey"),
          col("o_orderkey"),
          // salt from the fact row's full natural key: independent of the
          // join key's skew, stable across runs/engines
          concat_ws("|", col("l_orderkey"), col("l_linenumber")),
          buckets = 8
        )
          .groupBy(col("o_orderpriority"))
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items")
          )
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    ),
    // --------------------------------------------------------------- q107
    // Snapshot diff (CDC from full snapshots): given yesterday's orders
    // and today's (derived deterministically: keys % 7 = 0 deleted,
    // % 10 = 0 repriced by +1.0, % 13 = 0 re-inserted under a new key
    // range), emit the change set as (key, change_type). One full outer
    // join on the key — at 100 TB this is a single co-partitioned
    // shuffle (or zero shuffles if both snapshots are bucketed on the
    // key), and the +1.0 update marker compares doubles exactly (adding
    // 1.0 is exact in IEEE754 for these magnitudes).
    QueryDef(
      "q107_snapshot_diff",
      (s, dir) => {
        val (_, changes) = snapshotChanges(s, dir)
        changes
          .select(col("k").as("o_orderkey"), col("op").as("change_type"))
          .orderBy(col("o_orderkey"))
      },
      Some(s"""WITH $snapshotsSql,
             d AS (
               SELECT coalesce(o.k, n.k) AS o_orderkey,
                 CASE WHEN o.k IS NULL THEN 'insert'
                      WHEN n.k IS NULL THEN 'delete'
                      WHEN o.p <> n.p THEN 'update'
                      ELSE 'unchanged' END AS change_type
               FROM old o FULL OUTER JOIN neu n ON o.k = n.k)
             SELECT o_orderkey, change_type FROM d
             WHERE change_type <> 'unchanged' ORDER BY o_orderkey""")
    ),
    // --------------------------------------------------------------- q109
    // MERGE apply — the other half of q107: applying a CDC change set
    // (insert/update/delete + new values) onto the old snapshot must
    // reconstruct the new snapshot exactly. Upserts-and-deletes as one
    // anti join (drop deleted/updated keys) plus a union of the change
    // rows — the MERGE INTO shape on plain parquet; at 100 TB both
    // sides co-partition on the key (zero extra shuffles if bucketed).
    // The oracle IS the new snapshot, so the closure property
    // (apply(old, diff(old, new)) == new) is what the hash-match proves.
    QueryDef(
      "q109_merge_apply",
      (s, dir) => {
        val (old, changes) = snapshotChanges(s, dir)
        // MERGE: drop deleted+updated keys from old, add upsert rows
        old
          .join(changes.filter(col("op").isin("delete", "update")), Seq("k"), "left_anti")
          .union(
            changes
              .filter(col("op").isin("insert", "update"))
              .select(col("k"), col("new_p").as("p"))
          )
          .select(col("k").as("o_orderkey"), col("p").as("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some(s"""WITH $snapshotsSql
             SELECT k AS o_orderkey, p AS o_totalprice FROM neu ORDER BY k""")
    ),
    // --------------------------------------------------------------- q111
    // Data-quality constraint report (the deequ/dbt-test shape): each
    // constraint is an aggregate over the table — completeness, key
    // uniqueness, referential integrity, value ranges — evaluated in ONE
    // pass per table plus one anti-join for the FK check, emitted as a
    // (check, metric, passed) report. At 100 TB this is the nightly
    // contract gate: all metrics ride existing scans; nothing quadratic.
    QueryDef(
      "q111_quality_checks",
      (s, dir) => {
        val li = Engine.table(s, dir, "lineitem")
        val ord = Engine.table(s, dir, "orders")
        val liStats = li.agg(
          count(lit(1)).as("n"),
          sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_ship"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L).otherwise(0L)).as("bad_disc")
        )
        val ordStats = ord.agg(
          count(lit(1)).as("n_ord"),
          countDistinct(col("o_orderkey")).as("n_keys")
        )
        val orphans = li
          .join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_orphan"))
        val r = liStats.crossJoin(ordStats).crossJoin(orphans)
        val checks = Seq(
          ("lineitem_nonempty", col("n").cast("double"), col("n") > 0),
          ("shipdate_complete", col("null_ship").cast("double"), col("null_ship") === 0),
          ("discount_in_range", col("bad_disc").cast("double"), col("bad_disc") === 0),
          ("orderkey_unique", (col("n_ord") - col("n_keys")).cast("double"), col("n_ord") === col("n_keys")),
          ("lineitem_fk_orders", col("n_orphan").cast("double"), col("n_orphan") === 0)
        )
        checks
          .map { case (name, metric, passed) =>
            r.select(lit(name).as("check_name"), metric.as("metric"), passed.as("passed"))
          }
          .reduce(_.unionAll(_))
          .orderBy(col("check_name"))
      },
      Some("""WITH li AS (
               SELECT count(*) AS n,
                 sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS null_ship,
                 sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS bad_disc
               FROM lineitem),
             o AS (SELECT count(*) AS n_ord, count(DISTINCT o_orderkey) AS n_keys FROM orders),
             orph AS (SELECT count(*) AS n_orphan FROM lineitem l
                      WHERE NOT EXISTS (SELECT 1 FROM orders oo WHERE oo.o_orderkey = l.l_orderkey)),
             r AS (SELECT * FROM li CROSS JOIN o CROSS JOIN orph)
             SELECT * FROM (
               SELECT 'lineitem_nonempty' AS check_name, CAST(n AS DOUBLE) AS metric, n > 0 AS passed FROM r
               UNION ALL
               SELECT 'shipdate_complete', CAST(null_ship AS DOUBLE), null_ship = 0 FROM r
               UNION ALL
               SELECT 'discount_in_range', CAST(bad_disc AS DOUBLE), bad_disc = 0 FROM r
               UNION ALL
               SELECT 'orderkey_unique', CAST(n_ord - n_keys AS DOUBLE), n_ord = n_keys FROM r
               UNION ALL
               SELECT 'lineitem_fk_orders', CAST(n_orphan AS DOUBLE), n_orphan = 0 FROM r)
             ORDER BY check_name""")
    ),
    // --------------------------------------------------------------- q118
    // SCD Type-2 dimension build: each customer's order history becomes
    // versioned rows with [valid_from, valid_to) ranges and a current
    // flag — the slowly-changing-dimension shape every warehouse
    // maintains. One window (lead over the customer partition); no
    // second shuffle. At 100 TB the partition key is the dimension's
    // natural key, so state per task is one customer's history.
    QueryDef(
      "q118_scd2",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Engine
          .table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
          .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
          .select(
            col("o_custkey"),
            col("o_orderkey"),
            col("o_orderdate").as("valid_from"),
            col("valid_to"),
            col("valid_to").isNull.as("is_current"),
            round(col("o_totalprice"), 2).as("price")
          )
          .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey,
               o_orderdate AS valid_from,
               lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS valid_to,
               lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current,
               round(o_totalprice, 2) AS price
             FROM orders
             ORDER BY o_custkey, valid_from, o_orderkey""")
    ),
    // --------------------------------------------------------------- q119
    // Winsorization: clip each order's price to its priority group's
    // [p05, p95] band — the outlier-robust normalization pass of a
    // feature pipeline. Two-phase: tiny per-group discrete percentiles
    // (rank-exact, see below), broadcast back, clip + re-aggregate.
    // Never sorts the full table globally.
    QueryDef(
      "q119_winsorize",
      (s, dir) => {
        val ord = Engine.table(s, dir, "orders")
        // DISCRETE percentiles by integer rank arithmetic — interpolating
        // percentile() is computed differently by Spark and DuckDB (±1ulp
        // on duplicate-straddling positions), which would flip the strict
        // comparisons below; rank (5*n) div 100 is exact integer math and
        // the band values are actual data values, so every comparison is
        // engine-identical
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val ranked = ord
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn(
            "n",
            count(lit(1))
              .over(org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderpriority")))
          )
        val bands = ranked
          .groupBy(col("o_orderpriority"))
          .agg(
            max(when(col("rn") === greatest(lit(1L), expr("(5 * n) div 100")), col("o_totalprice")))
              .as("p05"),
            max(when(col("rn") === greatest(lit(1L), expr("(95 * n) div 100")), col("o_totalprice")))
              .as("p95")
          )
        ord
          .join(broadcast(bands), "o_orderpriority")
          .withColumn("clipped", least(greatest(col("o_totalprice"), col("p05")), col("p95")))
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n"),
            // exact integer cents, averaged by integer division: summing
            // doubles is order-sensitive across partitions and round(avg,2)
            // is rounded differently by Spark (shortest-decimal BigDecimal)
            // vs DuckDB (binary double), so the last digit can flip; cents
            // as BIGINT are associative and div is engine-identical
            sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("raw_cents"),
            sum(expr("CAST(round(clipped * 100) AS BIGINT)")).as("wins_cents"),
            sum((col("o_totalprice") < col("p05") || col("o_totalprice") > col("p95"))
              .cast("long")).as("n_clipped")
          )
          .select(
            col("o_orderpriority"),
            col("n"),
            expr("raw_cents div n").as("raw_avg_cents"),
            expr("wins_cents div n").as("wins_avg_cents"),
            col("n_clipped")
          )
          .orderBy(col("o_orderpriority"))
      },
      Some("""WITH r AS (
               SELECT o_orderpriority, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS rn,
                 count(*) OVER (PARTITION BY o_orderpriority) AS n
               FROM orders),
             b AS (
               SELECT o_orderpriority,
                 max(CASE WHEN rn = greatest(1, (5 * n) // 100) THEN o_totalprice END) AS p05,
                 max(CASE WHEN rn = greatest(1, (95 * n) // 100) THEN o_totalprice END) AS p95
               FROM r GROUP BY o_orderpriority)
             SELECT o.o_orderpriority, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*)
                 AS BIGINT) AS raw_avg_cents,
               CAST(sum(CAST(round(least(greatest(o_totalprice, p05), p95) * 100) AS BIGINT))
                 // count(*) AS BIGINT) AS wins_avg_cents,
               CAST(sum(CAST(o_totalprice < p05 OR o_totalprice > p95 AS BIGINT))
                 AS BIGINT) AS n_clipped
             FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
             GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""")
    ),
    // --------------------------------------------------------------- q144
    // Z-order clustering audit — gate-verifies Layout.zorderValue's
    // engine portability and quantifies the data skipping it buys. Docs
    // get a 2-D key (x = power-of-two token-length bucket, y = source
    // index), the 5-bit Z curve interleaves them, and file assignment is
    // the top Z bits (file = z div 16 — deterministic, recomputable by
    // any engine, unlike sampled range-partition boundaries). Per file:
    // row count, per-dimension min/max (exactly the parquet footer stats
    // a scan planner reads), whether the file survives a literal 2-D box
    // predicate's min/max pruning (x in [3,5] AND y in [4,11]), and the
    // rows actually matching. Because the Z curve keeps BOTH dimensions
    // locally dense, most files prune on one dimension or the other —
    // the property that makes a 100 TB scan touch 3% of its files. The
    // sound-pruning invariant (a skipped file contains zero matches) is
    // spec-asserted.
    QueryDef(
      "q144_zorder_pruning",
      (s, dir) => {
        val d = Engine
          .table(s, dir, "documents")
          .select(
            col("doc_id"),
            least(
              length(bin(greatest(size(Tokenize.toksExpr), lit(1)))) - 1,
              lit(31)
            ).cast("long").as("x"),
            substring(col("source"), 4, 2).cast("long").as("y")
          )
        d.withColumn("z", graft.operators.Layout.zorderValue(col("x"), col("y"), 5))
          .withColumn("file_id", expr("z div 16"))
          .groupBy(col("file_id"))
          .agg(
            count(lit(1)).as("n_rows"),
            min(col("x")).as("min_x"),
            max(col("x")).as("max_x"),
            min(col("y")).as("min_y"),
            max(col("y")).as("max_y"),
            sum(
              when(col("x").between(3, 5) && col("y").between(4, 11), 1L).otherwise(0L)
            ).as("n_match")
          )
          .withColumn(
            "scanned",
            (!(col("max_x") < 3 || col("min_x") > 5 || col("max_y") < 4 || col("min_y") > 11))
              .cast("long")
          )
          .select(
            col("file_id"), col("n_rows"), col("min_x"), col("max_x"),
            col("min_y"), col("max_y"), col("scanned"), col("n_match")
          )
          .orderBy(col("file_id"))
      },
      Some(s"""WITH t AS (
               SELECT doc_id,
                 least(length(bin(greatest(len(${Tokenize.toksSql}), 1))) - 1, 31) AS x,
                 CAST(substr(source, 4, 2) AS BIGINT) AS y
               FROM documents),
             z AS (
               SELECT x, y,
                 (((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1)
               + (((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3)
               + (((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5)
               + (((x >> 3) & 1) << 6) + (((y >> 3) & 1) << 7)
               + (((x >> 4) & 1) << 8) + (((y >> 4) & 1) << 9) AS zv
               FROM t),
             f AS (
               SELECT zv // 16 AS file_id, x, y FROM z)
             SELECT file_id, count(*) AS n_rows,
               CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
               CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y,
               CAST(NOT (max(x) < 3 OR min(x) > 5 OR max(y) < 4 OR min(y) > 11)
                 AS BIGINT) AS scanned,
               CAST(sum(CASE WHEN x BETWEEN 3 AND 5 AND y BETWEEN 4 AND 11
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_match
             FROM f GROUP BY file_id ORDER BY file_id""")
    )
  )
}
