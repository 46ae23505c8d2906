package graft.queries

import graft.{Engine, QueryDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event/time-series operators over the `events` table.
  *
  * The reference has no time/stream concepts (SURVEY.md §1.1) — this is
  * the additive surface a pipeline engine needs: tumbling-window
  * aggregation, gap-based sessionization, JSON extraction. The same
  * logical shapes run under Structured Streaming (see graft.streaming).
  *
  * Scale notes: windowed agg shuffles once on (window, type); the
  * sessionize window partitions by user_id — the natural shard key —
  * and uses integer microsecond arithmetic so results are engine-exact.
  */
object EventOps {

  /** q30's oracle: hourly event counts and value sums per type. q90's
    * streaming replay shares it verbatim.
    */
  private[graft] def hourlyOracle: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
             count(*) AS n, round(sum(value), 2) AS sum_value
             FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""

  /** q37's oracle: the gap-based sessions derived with the lag/island
    * trick (session end = last event + gap, Spark's semantics). q93's
    * streaming sessions share it verbatim.
    */
  private[graft] def sessionWindowOracle: String =
    """WITH e AS (
               SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS new_s
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
             ), se AS (
               SELECT user_id, ts, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM e)
             SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
               CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
               count(*) AS n, round(sum(value), 2) AS sum_value
             FROM se GROUP BY user_id, sid ORDER BY user_id, session_start"""

  val entries: Seq[QueryDef] = Seq(
    // ---------------------------------------------------------------- q30
    QueryDef(
      "q30_events_hourly",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .orderBy(col("hour"), col("event_type")),
      Some(hourlyOracle)
    ),
    // ---------------------------------------------------------------- q31
    // Gap-based sessionization: new session when idle > 30 min.
    QueryDef(
      "q31_sessionize",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Engine
          .table(s, dir, "events")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
          .withColumn(
            "new_s",
            when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1)
              .otherwise(0)
          )
          .withColumn("sid", sum(col("new_s")).over(wRun))
          .groupBy(col("user_id"))
          .agg(max(col("sid")).cast("long").as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (
               SELECT user_id, event_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS new_s
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             ), se AS (
               SELECT user_id,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM e
             )
             SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions, count(*) AS n_events
             FROM se GROUP BY user_id ORDER BY user_id""")
    ),
    // ---------------------------------------------------------------- q32
    // Semi-structured: JSON field extraction from the props column.
    QueryDef(
      "q32_json_extract",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .select(
            col("event_id"),
            get_json_object(col("props"), "$.k").cast("long").as("k")
          )
          .orderBy(col("event_id")),
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             FROM events ORDER BY event_id""")
    ),
    // ---------------------------------------------------------------- q76
    // VariantType (Spark 4): parse the JSON props once into the binary
    // variant encoding, then typed-path extraction — at scale this beats
    // per-access string re-parsing (get_json_object) the way a columnar
    // shredded type beats raw text. Aggregated so the output is variant-
    // free (the driver compares plain columns).
    QueryDef(
      "q76_variant_extract",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .withColumn("v", parse_json(col("props")))
          .select(col("event_type"), expr("variant_get(v, '$.k', 'long')").as("k"))
          .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_bucket"))
          .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy(col("event_type"), col("k_bucket")),
      Some("""WITH t AS (SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
             SELECT event_type, k % 10 AS k_bucket, count(*) AS n,
               min(k) AS min_k, max(k) AS max_k
             FROM t GROUP BY event_type, k % 10 ORDER BY event_type, k_bucket""")
    ),
    // ---------------------------------------------------------------- q33
    // Per-type value distribution: min/max/avg + median via exact
    // percentile (DuckDB quantile_cont matches Spark percentile interp.)
    QueryDef(
      "q33_type_stats",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            round(min(col("value")), 4).as("min_v"),
            round(max(col("value")), 4).as("max_v"),
            round(avg(col("value")), 4).as("avg_v")
          )
          .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n, round(min(value), 4) AS min_v,
             round(max(value), 4) AS max_v, round(avg(value), 4) AS avg_v
             FROM events GROUP BY event_type ORDER BY event_type""")
    ),
    // ---------------------------------------------------------------- q36
    // As-of join (composed from built-ins, per the preference order):
    // each purchase is attributed to the user's most recent prior click
    // via a running max over event time — no custom operator needed.
    QueryDef(
      "q36_asof_attribution",
      (s, dir) => {
        val w = Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Engine
          .table(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("click_us", when(col("event_type") === "click", unix_micros(col("ts"))))
          .withColumn("last_click_us", max(col("click_us")).over(w))
          .filter(col("event_type") === "purchase" && col("last_click_us").isNotNull)
          .select(
            col("event_id"),
            col("user_id"),
            expr("(unix_micros(ts) - last_click_us) div 1000000").as("gap_s")
          )
          .orderBy(col("event_id"))
      },
      Some("""WITH u AS (
               SELECT user_id, ts, event_id, event_type,
                 CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS click_us
               FROM events WHERE event_type IN ('click', 'purchase')),
             r AS (
               SELECT user_id, ts, event_id, event_type,
                 max(click_us) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us
               FROM u)
             SELECT event_id, user_id,
               CAST((epoch_us(ts) - last_click_us) // 1000000 AS BIGINT) AS gap_s
             FROM r WHERE event_type = 'purchase' AND last_click_us IS NOT NULL
             ORDER BY event_id""")
    ),
    // ---------------------------------------------------------------- q37
    // Native session_window operator (Spark 3.2+): gap-based sessions as
    // a groupBy key; the oracle derives the same sessions manually
    // (session end = last event + gap, per Spark's semantics).
    QueryDef(
      "q37_session_window",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select(
            col("user_id"),
            col("w.start").as("session_start"),
            col("w.end").as("session_end"),
            col("n"),
            col("sum_value")
          )
          .orderBy(col("user_id"), col("session_start")),
      Some(sessionWindowOracle)
    ),
    // ---------------------------------------------------------------- q75
    // Approximate percentile sketch (the second sketch family next to
    // q35's HLL): approx_percentile keeps a bounded-size digest per
    // group, merged associatively across partitions — the scale path
    // when q34's exact sort-based percentile is too expensive. The
    // digest values differ per engine, so the gate asserts the sketch's
    // RANK guarantee instead: approx_percentile(accuracy=1000) returns an
    // element whose empirical rank is within 1/1000 of the target, so the
    // engine recounts values <= the returned quantile and emits a boolean
    // at 10x that bound (±1% + 1 for ties). The oracle expects TRUE.
    QueryDef(
      "q75_approx_percentiles",
      (s, dir) => {
        val e = Engine.table(s, dir, "events")
        val ap = e
          .groupBy(col("event_type"))
          .agg(
            expr("approx_percentile(value, 0.5, 1000)").as("p50a"),
            expr("approx_percentile(value, 0.99, 1000)").as("p99a")
          )
        e.join(broadcast(ap), "event_type")
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("value") <= col("p50a"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("value") <= col("p99a"), 1L).otherwise(0L)).as("le99")
          )
          .select(
            col("event_type"),
            col("n"),
            (abs(col("le50") - col("n") * 0.5) <= col("n") * 0.01 + 1.0).as("p50_ok"),
            (abs(col("le99") - col("n") * 0.99) <= col("n") * 0.01 + 1.0).as("p99_ok")
          )
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n, TRUE AS p50_ok, TRUE AS p99_ok
             FROM events GROUP BY event_type ORDER BY event_type""")
    ),
    // ---------------------------------------------------------------- q82
    // Cohort retention: users bucketed by first-seen week, counted in
    // each later activity week as an integer week offset. Two shuffles
    // (per-user first-seen; cohort grid aggregation) — the standard
    // retention-matrix shape. Both engines truncate weeks to ISO Monday.
    QueryDef(
      "q82_cohort_retention",
      (s, dir) => {
        val e = Engine
          .table(s, dir, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
        e.join(first, "user_id")
          .withColumn(
            "week_offset",
            (datediff(col("wk").cast("date"), col("cohort_week").cast("date")) / 7)
              .cast("long")
          )
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(count_distinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
               FROM events),
             f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id)
             SELECT f.cohort_week,
               CAST(date_diff('day', CAST(f.cohort_week AS DATE), CAST(e.wk AS DATE)) / 7 AS BIGINT)
                 AS week_offset,
               count(DISTINCT e.user_id) AS n_users
             FROM e JOIN f USING (user_id)
             GROUP BY 1, 2 ORDER BY 1, 2""")
    ),
    // ---------------------------------------------------------------- q83
    // Ordered funnel: view -> click (after the view) -> purchase (after
    // the click), one stage table per step. Each step is a conditional
    // min over a semi-joined subset — three small shuffles keyed on
    // user_id, no window over the raw stream.
    QueryDef(
      "q83_funnel",
      (s, dir) => {
        val e = Engine.table(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
        val v = e
          .filter(col("event_type") === "view")
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t_view"))
        val c = e
          .filter(col("event_type") === "click")
          .join(v, "user_id")
          .filter(col("ts") > col("t_view"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t_click"))
        val p = e
          .filter(col("event_type") === "purchase")
          .join(c, "user_id")
          .filter(col("ts") > col("t_click"))
          .groupBy(col("user_id"))
          .agg(min(col("ts")).as("t_purchase"))
        // one lazy plan: union the per-stage GLOBAL aggregates (a global
        // agg over an empty stage still yields one row with 0, matching
        // the oracle's UNION ALL of counts — a groupBy would silently
        // drop an empty stage). No driver-side actions.
        def stageCount(name: String, df: DataFrame): DataFrame =
          df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
        stageCount("1_view", v)
          .union(stageCount("2_click_after_view", c))
          .union(stageCount("3_purchase_after_click", p))
          .orderBy(col("stage"))
      },
      Some("""WITH e AS (SELECT user_id, event_type, ts FROM events),
             v AS (SELECT user_id, min(ts) AS t_view FROM e
                   WHERE event_type = 'view' GROUP BY user_id),
             c AS (SELECT e.user_id, min(e.ts) AS t_click FROM e JOIN v USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
             p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e JOIN c USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
             SELECT stage, n_users FROM (
               SELECT '1_view' AS stage, count(*) AS n_users FROM v
               UNION ALL SELECT '2_click_after_view', count(*) FROM c
               UNION ALL SELECT '3_purchase_after_click', count(*) FROM p)
             ORDER BY stage""")
    ),
    // ---------------------------------------------------------------- q85
    // Median-absolute-deviation outliers — the robust complement of q38's
    // z-score: median and MAD are insensitive to the outliers they
    // detect. Two aggregation passes (median; then MAD around it), then
    // a counting pass — each a single shuffle on event_type.
    QueryDef(
      "q85_mad_outliers",
      (s, dir) => {
        val e = Engine.table(s, dir, "events")
        val med = e
          .groupBy(col("event_type"))
          .agg(expr("percentile(value, 0.5)").as("med"))
        val mad = e
          .join(med, "event_type")
          .groupBy(col("event_type"))
          .agg(
            first(col("med")).as("med"),
            expr("percentile(abs(value - med), 0.5)").as("mad")
          )
        e.join(mad, "event_type")
          .groupBy(col("event_type"))
          .agg(
            round(first(col("med")), 4).as("median"),
            round(first(col("mad")), 4).as("mad"),
            sum(when(abs(col("value") - col("med")) > col("mad") * 3, 1L).otherwise(0L))
              .as("n_outliers")
          )
          .orderBy(col("event_type"))
      },
      Some("""WITH med AS (
               SELECT event_type, quantile_cont(value, 0.5) AS med
               FROM events GROUP BY event_type),
             mad AS (
               SELECT e.event_type, any_value(m.med) AS med,
                 quantile_cont(abs(e.value - m.med), 0.5) AS mad
               FROM events e JOIN med m USING (event_type) GROUP BY e.event_type)
             SELECT e.event_type, round(any_value(mad.med), 4) AS median,
               round(any_value(mad.mad), 4) AS mad,
               CAST(sum(CASE WHEN abs(e.value - mad.med) > mad.mad * 3 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_outliers
             FROM events e JOIN mad USING (event_type)
             GROUP BY e.event_type ORDER BY e.event_type""")
    ),
    // ---------------------------------------------------------------- q86
    // Fixed-width histogram: global min/max drive 10 equal buckets via
    // exact integer arithmetic on floor(); the two-pass shape (bounds,
    // then bucket counts) is one tiny aggregate + one shuffle.
    QueryDef(
      "q86_histogram",
      (s, dir) => {
        val e = Engine.table(s, dir, "events")
        val bounds = e.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        e.crossJoin(broadcast(bounds))
          .withColumn(
            "bucket",
            least(floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / 10)), lit(9.0))
              .cast("long")
          )
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), round(min(col("value")), 4).as("bucket_min"),
            round(max(col("value")), 4).as("bucket_max"))
          .orderBy(col("bucket"))
      },
      Some("""WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
             SELECT CAST(least(floor((value - lo) / ((hi - lo) / 10)), 9.0) AS BIGINT) AS bucket,
               count(*) AS n, round(min(value), 4) AS bucket_min, round(max(value), 4) AS bucket_max
             FROM events CROSS JOIN b
             GROUP BY 1 ORDER BY bucket""")
    ),
    // ---------------------------------------------------------------- q87
    // arg-max/arg-min aggregation: the row attribute AT the group
    // extremum. Values tie (they are cent-rounded), and neither engine
    // defines max_by tie-breaking, so the ordering key is a composite
    // encoded into one BIGINT — cents * 1e10 + event_id — unique per row
    // and identically ordered in both engines.
    QueryDef(
      "q87_argmax",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .withColumn(
            "ord",
            expr("cast(round(value * 100) as bigint) * 10000000000L + event_id")
          )
          .groupBy(col("event_type"))
          .agg(
            expr("max_by(event_id, ord)").as("top_event"),
            expr("min_by(event_id, ord)").as("bottom_event"),
            round(max(col("value")), 4).as("max_value")
          )
          .orderBy(col("event_type")),
      Some("""SELECT event_type,
               arg_max(event_id, CAST(round(value * 100) AS BIGINT) * 10000000000 + event_id)
                 AS top_event,
               arg_min(event_id, CAST(round(value * 100) AS BIGINT) * 10000000000 + event_id)
                 AS bottom_event,
               round(max(value), 4) AS max_value
             FROM events GROUP BY event_type ORDER BY event_type""")
    ),
    // ---------------------------------------------------------------- q88
    // Boolean/conditional aggregates: count_if, bool_and, bool_or —
    // single-pass combinable predicates per group.
    QueryDef(
      "q88_bool_aggs",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            expr("count_if(value > 50)").as("n_high"),
            expr("bool_and(value >= 0)").as("all_nonneg"),
            expr("bool_or(value > 99)").as("any_extreme")
          )
          .orderBy(col("event_type")),
      Some("""SELECT event_type,
               count(*) FILTER (value > 50) AS n_high,
               bool_and(value >= 0) AS all_nonneg,
               bool_or(value > 99) AS any_extreme
             FROM events GROUP BY event_type ORDER BY event_type""")
    ),
    // ---------------------------------------------------------------- q34
    // Exact percentiles: Spark `percentile` and DuckDB `quantile_cont`
    // both linear-interpolate at p*(n-1) over sorted values.
    QueryDef(
      "q34_percentiles",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            round(expr("percentile(value, 0.5)"), 4).as("p50"),
            round(expr("percentile(value, 0.9)"), 4).as("p90"),
            round(expr("percentile(value, 0.99)"), 4).as("p99")
          )
          .orderBy(col("event_type")),
      Some("""SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50,
             round(quantile_cont(value, 0.9), 4) AS p90,
             round(quantile_cont(value, 0.99), 4) AS p99
             FROM events GROUP BY event_type ORDER BY event_type""")
    ),
    // ---------------------------------------------------------------- q39
    // Pivot: one column per event type (explicit value list keeps the
    // schema static and the plan a single pass — no distinct-values
    // pre-query). Oracle is the equivalent conditional aggregation.
    QueryDef(
      "q39_pivot",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy(col("day")),
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
             count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
             count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
             count(CASE WHEN event_type = 'view' THEN 1 END) AS view
             FROM events GROUP BY 1 ORDER BY day""")
    ),
    // ---------------------------------------------------------------- q38
    // Outlier detection: z-score of value against the per-type
    // distribution (broadcast of the tiny stats side); top-50 by |z|.
    QueryDef(
      "q38_anomaly_zscore",
      (s, dir) => {
        val ev = Engine.table(s, dir, "events")
        val stats = ev
          .groupBy(col("event_type"))
          .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
        ev.join(broadcast(stats), Seq("event_type"))
          .select(
            col("event_id"),
            col("event_type"),
            round(abs((col("value") - col("mu")) / col("sigma")), 4).as("z")
          )
          .orderBy(col("z").desc, col("event_id"))
          .limit(50)
      },
      Some("""WITH st AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
               FROM events GROUP BY event_type)
             SELECT e.event_id, e.event_type, round(abs((e.value - st.mu) / st.sigma), 4) AS z
             FROM events e JOIN st ON e.event_type = st.event_type
             ORDER BY z DESC, event_id LIMIT 50""")
    ),
    // ---------------------------------------------------------------- q35
    // Sketch aggregation: HyperLogLog++ distinct users per event type.
    // The sketch internals differ per engine, so the ESTIMATE cannot be
    // an oracle column — instead the query emits the exact count (which
    // DuckDB recomputes) plus `hll_ok`, the engine's own assertion that
    // the estimate lands within the 5% bound. The oracle expects TRUE:
    // a broken sketch flips the boolean and the hash gate catches it
    // (same bound-as-integer-row pattern as q124's ANN recall gate).
    QueryDef(
      "q35_approx_distinct",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            approx_count_distinct(col("user_id")).as("approx_users"),
            countDistinct(col("user_id")).as("n_users_exact"),
            count(lit(1)).as("n")
          )
          .select(
            col("event_type"),
            col("n"),
            col("n_users_exact"),
            (abs(col("approx_users") - col("n_users_exact")) <=
              greatest(lit(1L), (col("n_users_exact") * 0.05).cast("long"))).as("hll_ok")
          )
          .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
               count(DISTINCT user_id) AS n_users_exact, TRUE AS hll_ok
             FROM events GROUP BY event_type ORDER BY event_type""")
    ),
    // --------------------------------------------------------------- q120
    // Hopping (sliding) windows: 1-hour windows every 15 minutes — each
    // event lands in 4 overlapping windows (window() plans an Expand of
    // exactly windowDuration/slideDuration rows, a bounded narrow
    // fan-out, then the usual partial+final aggregation). The oracle
    // explodes the same 4 offsets per event. Tumbling q30 is the
    // degenerate slide == width case.
    QueryDef(
      "q120_hopping_window",
      (s, dir) =>
        Engine
          .table(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))
          .orderBy(col("w_start"), col("event_type")),
      Some("""WITH x AS (
               SELECT event_type, value,
                 CAST(date_trunc('hour', ts - INTERVAL (k * 15) MINUTE)
                   + INTERVAL (CAST(date_part('minute', ts - INTERVAL (k * 15) MINUTE) AS BIGINT) // 15 * 15) MINUTE
                   AS TIMESTAMP) AS w_start
               FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))
             SELECT w_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
             FROM x GROUP BY w_start, event_type ORDER BY w_start, event_type""")
    ),
    // --------------------------------------------------------------- q121
    // Multi-touch linear attribution: each purchase's value is split
    // equally across the user's clicks in the preceding hour (the
    // marketing-analytics counterpart of the as-of join's last-touch
    // q36). Same interval-join shape as q95; the credit division is
    // value/n — rounded, engine-identical. Purchases with no preceding
    // click keep full self-credit (n_touches = 0).
    QueryDef(
      "q121_attribution",
      (s, dir) => {
        val ev = Engine.table(s, dir, "events")
        val purchases = ev
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"), col("value"))
        val clicks = ev
          .filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        purchases
          .join(
            clicks,
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
              col("c_ts") <= col("p_ts"),
            "left_outer"
          )
          .groupBy(col("p_id"), col("value"))
          .agg(count(col("c_ts")).as("n_touches"))
          .select(
            col("p_id"),
            col("n_touches"),
            round(col("value") / greatest(col("n_touches"), lit(1L)), 6).as("credit_per_touch")
          )
          .orderBy(col("p_id"))
      },
      Some("""SELECT a.event_id AS p_id, count(b.ts) AS n_touches,
               round(a.value / greatest(count(b.ts), 1), 6) AS credit_per_touch
             FROM events a LEFT JOIN events b
               ON a.user_id = b.user_id AND b.event_type = 'click'
               AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts
             WHERE a.event_type = 'purchase'
             GROUP BY a.event_id, a.value ORDER BY p_id""")
    ),
    // --------------------------------------------------------------- q123
    // Event-transition matrix (the Markov view of user journeys): per
    // user, order events by time and count (state -> next state) pairs,
    // then the row-normalized transition probability — int/int division,
    // engine-exact. One window (lead over the user partition) + one
    // aggregation; the per-user sequence never leaves its partition.
    QueryDef(
      "q123_transition_matrix",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = Engine
          .table(s, dir, "events")
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
        val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("row_n"))
        trans
          .join(totals, "from_type")
          .select(
            col("from_type"),
            col("to_type"),
            col("n"),
            round(col("n").cast("double") / col("row_n"), 6).as("p")
          )
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH t AS (
               SELECT event_type AS from_type,
                 lead(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
               FROM events),
             tr AS (SELECT from_type, to_type, count(*) AS n FROM t
                    WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
             rt AS (SELECT from_type, sum(n) AS row_n FROM tr GROUP BY from_type)
             SELECT tr.from_type, tr.to_type, CAST(tr.n AS BIGINT) AS n,
               round(CAST(tr.n AS DOUBLE) / rt.row_n, 6) AS p
             FROM tr JOIN rt ON tr.from_type = rt.from_type
             ORDER BY tr.from_type, to_type""")
    ),
    // --------------------------------------------------------------- q113
    // Re-aggregatable sketch rollup — the at-scale distinct-count
    // pattern: build small per-(type, hour) HLL sketches once (Spark 4's
    // Datasketches-backed hll_sketch_agg), then UNION the binary
    // sketches up to per-type totals (hll_union_agg) without touching
    // the raw data again. This is what replaces count(DISTINCT) in a
    // 100 TB rollup cube: partials are mergeable, so every coarser
    // grain is a cheap second-level aggregation over kilobyte sketches.
    // Gate (q124 pattern): the estimate itself is engine-specific, so the
    // query emits oracle-recomputable columns (n_hours, exact distinct)
    // plus two engine assertions the oracle expects TRUE — `rollup_ok`
    // (merged estimate within the 5% bound of exact) and `merge_lossless`
    // (the union of per-hour sketches estimates EXACTLY what one direct
    // sketch over the raw data does: HLL merge is a per-register max, so
    // rolling up partials loses nothing — the property that makes the
    // pattern safe at 100 TB).
    QueryDef(
      "q113_sketch_rollup",
      (s, dir) => {
        val e = Engine.table(s, dir, "events")
        val partials = e
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val rolled = partials
          .groupBy(col("event_type"))
          .agg(
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_union"),
            count(lit(1)).as("n_hours")
          )
        val direct = e
          .groupBy(col("event_type"))
          .agg(
            hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("approx_direct"),
            countDistinct(col("user_id")).as("n_users_exact")
          )
        rolled
          .join(direct, "event_type")
          .select(
            col("event_type"),
            col("n_hours"),
            col("n_users_exact"),
            (abs(col("approx_union") - col("n_users_exact")) <=
              greatest(lit(1L), (col("n_users_exact") * 0.05).cast("long"))).as("rollup_ok"),
            (col("approx_union") === col("approx_direct")).as("merge_lossless")
          )
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
               count(DISTINCT CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS n_hours,
               count(DISTINCT user_id) AS n_users_exact,
               TRUE AS rollup_ok, TRUE AS merge_lossless
             FROM events GROUP BY event_type ORDER BY event_type""")
    )
  )
}
