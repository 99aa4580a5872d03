package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream operators over the `events` table. The batch queries
  * here are the oracle-checked twins of the Structured Streaming
  * pipelines in [[graft.streaming.EventStreams]] — same windowing /
  * sessionization semantics, verifiable against DuckDB.
  *
  * Timestamps: events.ts is ns in parquet; both engines reduce to
  * epoch-microseconds with floor division, so boundary comparisons are
  * identical (Spark: Tables.events truncation + unix_micros; DuckDB:
  * epoch_ns // 1000).
  */
object EventsOps {

  private val gapUs = 30L * 60 * 1000000 // 30-minute session gap

  /** q47's sessions: per user, each 30-minute-gap session's first and
    * last event time and its event count, through the native
    * session_window operator. Input needs `user_id`, `ts`;
    * `sessionWindowStream` runs it on a watermarked live feed. */
  private[graft] def nativeSessions(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        (unix_micros(col("session_window.end")) - gapUs).as("last_us"),
        col("n_events"))

  /** q55's velocity flags: (10-minute slide, user) pairs with 2+ events,
    * slides every 5 minutes. Input needs `user_id`, `ts`;
    * `slidingVelocityStream` runs it on a watermarked live feed. */
  private[graft] def velocityFlags(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= 2)
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("user_id"), col("n_events"))

  val all: Seq[QueryDef] = Seq(

    // -- tumbling-window aggregation (streaming twin: windowed agg) ----
    QueryDef.sql("q18_tumbling_windows",
      (s, d) => Tables.events(s, d)
        // integer div, not floor(double/) — avoids FP boundary drift
        .withColumn("win_start",
          timestamp_micros(expr("unix_micros(ts) div 300000000 * 300000000")))
        .groupBy(col("win_start"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("user_id")).as("n_users"))
        .filter(col("n") > 1)
        .orderBy(col("win_start"), col("event_type")),
      """SELECT make_timestamp((epoch_ns(ts) // 1000) // 300000000 * 300000000) AS win_start,
        |  event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |HAVING COUNT(*) > 1
        |ORDER BY 1, 2""".stripMargin),

    // -- sessionization: 30-min-gap sessions per user ------------------
    QueryDef.sql("q19_sessionization",
      (s, d) => {
        val wOrd = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("new_sess",
            when(col("us") - lag(col("us"), 1).over(wOrd) > gapUs, 1)
              .when(lag(col("us"), 1).over(wOrd).isNull, 1)
              .otherwise(0))
          .withColumn("sess_idx", sum(col("new_sess"))
            .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess_idx"))
          .agg(count(lit(1)).as("n_events"),
               min(col("us")).as("start_us"),
               (max(col("us")) - min(col("us"))).as("dur_us"))
          .orderBy(col("user_id"), col("sess_idx"))
      },
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
         |f AS (
         |  SELECT user_id, event_id, us,
         |    CASE WHEN us - lag(us) OVER w > $gapUs THEN 1
         |         WHEN lag(us) OVER w IS NULL THEN 1
         |         ELSE 0 END AS new_sess
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |g AS (
         |  SELECT user_id, us,
         |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
         |  FROM f)
         |SELECT user_id, sess_idx, COUNT(*) AS n_events,
         |  MIN(us) AS start_us, MAX(us) - MIN(us) AS dur_us
         |FROM g
         |GROUP BY user_id, sess_idx
         |ORDER BY user_id, sess_idx""".stripMargin),

    // -- as-of join: purchase → most recent prior view, per user -------
    // Composed as union + per-user window (SURVEY §2.5 mapping: custom
    // operators preferred as compositions when semantics allow). One
    // shuffle on user_id, no range-join pair blowup — the 100 TB shape
    // for event-time as-of joins.
    QueryDef.sql("q21_asof_join",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("last_view_us",
            last(when(col("event_type") === "view", col("us")), ignoreNulls = true).over(w))
          .withColumn("last_view_id",
            last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("purchase_us"), col("last_view_id"),
            (col("us") - col("last_view_us")).as("gap_us"))
          .orderBy(col("purchase_id"))
      },
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |f AS (
        |  SELECT event_id, user_id, event_type, us,
        |    last_value(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
        |      OVER w AS last_view_us,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |      OVER w AS last_view_id
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, user_id, us AS purchase_us,
        |  last_view_id, us - last_view_us AS gap_us
        |FROM f
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin),

    // -- as-of join, NATIVE operator path ------------------------------
    // Same contract as q21, but through graft.plans.AsOfJoin: a custom
    // LogicalPlan + Strategy + merge SparkPlan (SURVEY §2.5 tier (c))
    // instead of the union+window composition. Oracle is the identical
    // SQL — the driver compare proves the custom operator agrees with
    // the declarative twin bit-for-bit.
    QueryDef.sql("q31_asof_native",
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .select(col("event_id"), col("user_id"), col("us"), col("event_type"))
        val purchases = e.filter(col("event_type") === "purchase").drop("event_type")
        val views = e.filter(col("event_type") === "view").drop("event_type")
        graft.plans.AsOfJoin.asofJoin(purchases, views,
            on = Seq("user_id"),
            leftOrderCols = Seq("us", "event_id"),
            rightOrderCols = Seq("us", "event_id"))
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("us").as("purchase_us"), col("r_event_id").as("last_view_id"),
            (col("us") - col("r_us")).as("gap_us"))
          .orderBy(col("purchase_id"))
      },
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |f AS (
        |  SELECT event_id, user_id, event_type, us,
        |    last_value(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
        |      OVER w AS last_view_us,
        |    last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
        |      OVER w AS last_view_id
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, user_id, us AS purchase_us,
        |  last_view_id, us - last_view_us AS gap_us
        |FROM f
        |WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin),

    // -- conversion funnel: first view -> first subsequent purchase ----
    // The product-analytics funnel shape: a running seen-view flag per
    // user (window, one shuffle on user_id) marks purchases that happen
    // AFTER the first view; aggregation then takes first-touch times.
    // No range join, no per-user event buffering — state is one flag.
    QueryDef.sql("q33_funnel",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("seen_view",
            max(when(col("event_type") === "view", 1).otherwise(0)).over(w))
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "view", col("us"))).as("first_view_us"),
            min(when(col("event_type") === "purchase" && col("seen_view") === 1,
              col("us"))).as("conv_us"))
          .filter(col("first_view_us").isNotNull)
          .select(col("user_id"), col("first_view_us"),
            col("conv_us"),
            (col("conv_us") - col("first_view_us")).as("gap_us"),
            col("conv_us").isNotNull.as("converted"))
          .orderBy(col("user_id"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |f AS (
        |  SELECT user_id, event_type, us,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen_view
        |  FROM e),
        |g AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN us END) AS first_view_us,
        |    MIN(CASE WHEN event_type = 'purchase' AND seen_view = 1 THEN us END)
        |      AS conv_us
        |  FROM f GROUP BY user_id)
        |SELECT user_id, first_view_us, conv_us,
        |  conv_us - first_view_us AS gap_us,
        |  conv_us IS NOT NULL AS converted
        |FROM g
        |WHERE first_view_us IS NOT NULL
        |ORDER BY user_id""".stripMargin),

    // -- per-user event-type pivot (conditional aggregation) -----------
    QueryDef.sql("q20_event_type_pivot",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
          count(lit(1)).as("n_total"))
        .filter(col("n_total") >= 20)
        .orderBy(col("user_id")),
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  COUNT(*) AS n_total
        |FROM events
        |GROUP BY user_id
        |HAVING COUNT(*) >= 20
        |ORDER BY user_id""".stripMargin),

    // -- HyperLogLog++ distinct sketch (approximate, bounded check) ----
    // The sketch tier of distinct counting (exact tier: q17): HLL++
    // partials merge associatively, so a 100 TB count is one map-side
    // sketch per partition + a tiny merge. The estimate itself is
    // engine-specific and can't hash-match an exact oracle, but its
    // CONTRACT can: we emit the exact per-group count plus a
    // deterministic within_tolerance boolean (|approx−exact|/exact ≤
    // 3×rsd, the same bound EventsSketchSpec asserts), and the oracle
    // emits the same exact counts with within_tolerance literally TRUE —
    // so an estimate drifting out of bound flips the boolean and fails
    // the hash compare, making the approximation itself driver-checkable.
    // NOTE: the countDistinct here exists for the verify gate ONLY — it
    // pays the exact-distinct shuffle the sketch tier avoids, which is
    // why q34 is deliberately absent from SparkEntry.benchQueries (a
    // timing of this query would measure the exact path, not HLL).
    // Groups whose user_id is entirely NULL have exact_users = 0; the
    // contract defines them as in-tolerance (0 ≈ 0) rather than
    // evaluating 0/0 into a null that would fail the oracle's TRUE.
    QueryDef.sql("q34_approx_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          when(col("exact_users") === 0, lit(true))
            .otherwise(abs(col("approx_users") - col("exact_users")).cast("double")
              / col("exact_users") <= lit(0.06)).as("within_tolerance"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  COUNT(*) AS n,
        |  TRUE AS within_tolerance
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // -- interval join via bin bucketing (range join, no equi-key) -----
    // The range-join shape Spark lacks natively: derive "error spike"
    // windows (5-min bins with >= 3 error events, padded ±60 s), then
    // count ALL events falling inside each window — a pure time-range
    // predicate with no shared equi-key. A naive formulation is a
    // BroadcastNestedLoopJoin (O(|events| × |windows|) comparisons); the
    // 100 TB form here turns it into an EQUI-join: each padded window
    // covers exactly bins [win−1, win+1], so exploding windows to their
    // covered bins (3 rows each, still tiny, broadcast) and joining
    // events on their OWN 5-min bin gives every candidate pair with
    // hash-lookup cost, then the exact [lo, hi) filter prunes the pad
    // slop. Each event carries one bin, so no candidate dedup is needed.
    // Events never shuffle before the final per-window rollup (windows
    // table is broadcast); work is O(|events| + |windows|).
    QueryDef.sql("q38_interval_join",
      (s, d) => {
        val binUs = 300000000L // 5-min bins
        val padUs = 60000000L  // ±60 s window padding
        val e = Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("bin", expr("us div 300000000"))
        val wins = e.filter(col("event_type") === "error")
          .groupBy(col("bin")).agg(count(lit(1)).as("n_err"))
          .filter(col("n_err") >= 3)
          .select(col("bin").as("win_id"), col("n_err"),
            (col("bin") * binUs - padUs).as("lo"),
            (col("bin") * binUs + binUs + padUs).as("hi"))
        val winBins = wins.select(col("win_id"), col("n_err"), col("lo"), col("hi"),
          explode(array(col("win_id") - 1, col("win_id"), col("win_id") + 1)).as("bin"))
        e.join(broadcast(winBins), Seq("bin"))
          .filter(col("us") >= col("lo") && col("us") < col("hi"))
          .groupBy(col("win_id"))
          .agg(max(col("n_err")).as("n_err"),
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
          .orderBy(col("win_id"))
      },
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000 AS us, user_id, event_type FROM events),
        |wins AS (
        |  SELECT us // 300000000 AS win_id, COUNT(*) AS n_err
        |  FROM e WHERE event_type = 'error'
        |  GROUP BY 1 HAVING COUNT(*) >= 3),
        |w AS (
        |  SELECT win_id, n_err,
        |    win_id * 300000000 - 60000000 AS lo,
        |    win_id * 300000000 + 360000000 AS hi
        |  FROM wins)
        |SELECT w.win_id, CAST(MAX(w.n_err) AS BIGINT) AS n_err,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT e.user_id) AS n_users,
        |  CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchases
        |FROM w JOIN e ON e.us >= w.lo AND e.us < w.hi
        |GROUP BY w.win_id
        |ORDER BY w.win_id""".stripMargin),

    // -- interval join through the NATIVE operator (q38's twin) --------
    // The q21/q31 pairing applied to the range join: q38 composes the
    // bin-bucketed equi-join declaratively; q46 computes the IDENTICAL
    // result through graft.plans.IntervalJoin — a custom LogicalPlan +
    // Strategy + broadcast-sweep SparkPlan (events never shuffle; the
    // window table rides one IdentityBroadcastMode exchange; each task
    // probes a sorted interval array by binary search + a bounded
    // backward sweep). Both hash against the SAME oracle, proving the
    // native operator agrees with the declarative twin and with DuckDB.
    QueryDef.sql("q46_interval_native",
      (s, d) => {
        val binUs = 300000000L
        val padUs = 60000000L
        val e = Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
        val wins = e.filter(col("event_type") === "error")
          .withColumn("bin", expr("us div 300000000"))
          .groupBy(col("bin")).agg(count(lit(1)).as("n_err"))
          .filter(col("n_err") >= 3)
          .select(col("bin").as("win_id"), col("n_err"),
            (col("bin") * binUs - padUs).as("lo"),
            (col("bin") * binUs + binUs + padUs).as("hi"))
        graft.plans.IntervalJoin.intervalJoin(
            e.select(col("us"), col("user_id"), col("event_type")),
            wins, "us", "lo", "hi")
          .groupBy(col("w_win_id").as("win_id"))
          .agg(max(col("w_n_err")).as("n_err"),
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
          .select(col("win_id"), col("n_err"), col("n_events"),
            col("n_users"), col("n_purchases"))
          .orderBy(col("win_id"))
      },
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000 AS us, user_id, event_type FROM events),
        |wins AS (
        |  SELECT us // 300000000 AS win_id, COUNT(*) AS n_err
        |  FROM e WHERE event_type = 'error'
        |  GROUP BY 1 HAVING COUNT(*) >= 3),
        |w AS (
        |  SELECT win_id, n_err,
        |    win_id * 300000000 - 60000000 AS lo,
        |    win_id * 300000000 + 360000000 AS hi
        |  FROM wins)
        |SELECT w.win_id, CAST(MAX(w.n_err) AS BIGINT) AS n_err,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT e.user_id) AS n_users,
        |  CAST(SUM(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchases
        |FROM w JOIN e ON e.us >= w.lo AND e.us < w.hi
        |GROUP BY w.win_id
        |ORDER BY w.win_id""".stripMargin),

    // -- retention cohorts (the product-analytics staple) --------------
    // Users grouped by their first-seen week; each cell counts how many
    // of a cohort's users were still active N weeks later. 100 TB
    // shape: TWO shuffles total — one repartition(user_id) up front,
    // whose HashPartitioning satisfies the (user_id, week) distinct
    // agg AND the per-user cohort-min window (subset clustering, no
    // second exchange — the t09 move), then the tiny (cohort, offset)
    // rollup. The wide shuffle carries (user_id, week) long pairs only;
    // a user's row count collapses to their distinct active weeks
    // map-side via partial aggregation.
    QueryDef.sql("q39_retention_cohorts",
      (s, d) => {
        val wkUs = 604800000000L // 7 * 86400 * 1e6
        val uw = Tables.events(s, d)
          .select(col("user_id"),
            expr(s"unix_micros(ts) DIV $wkUs").as("week"))
          .repartition(col("user_id"))
          .groupBy(col("user_id"), col("week")).agg(count(lit(1)).as("c"))
          .drop("c")
        val w = Window.partitionBy(col("user_id"))
        uw.withColumn("cohort_week", min(col("week")).over(w))
          .withColumn("week_offset", col("week") - col("cohort_week"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      """WITH uw AS (
        |  SELECT DISTINCT user_id, (epoch_ns(ts) // 1000) // 604800000000 AS week
        |  FROM events),
        |c AS (
        |  SELECT user_id, week,
        |    MIN(week) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM uw)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  COUNT(*) AS n_users
        |FROM c GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // -- latest-record compaction (the CDC / upsert-snapshot staple) ---
    // Per user, the single most recent event plus the superseded-version
    // count — the "latest value wins" materialization every mutable-log
    // ingest runs before training or serving. 100 TB shape: max_by is a
    // PARTIAL-aggregable agg (O(1) state per key, map-side combine), so
    // one shuffle of (user_id, current-best) pairs — never a per-user
    // window over full rows, never a sort. Ordering key is the
    // fixed-width digit string (epoch_us, event_id) — lexicographic =
    // numeric on non-negative zero-padded digits — which is also what
    // makes it cross-engine: DuckDB's arg_max accepts one VARCHAR
    // ordering value, and event_id uniqueness makes the key total, so
    // ties cannot exist and both engines pick the identical row.
    QueryDef.sql("q40_latest_compaction",
      (s, d) => {
        // r14 (guide §1.2 per-task work): the old form built a 40-char
        // zero-padded string key per row and ran FIVE max_by aggregates
        // each comparing those strings — lexicographic order on the
        // padded non-negative (us, event_id) IS numeric (us, event_id)
        // order, so ONE max over a struct ordered by the same two
        // columns picks the identical row ((us, event_id) is unique —
        // the trailing fields never participate in a comparison). No
        // string allocation, one aggregation buffer instead of five.
        // The oracle keeps the padded-string arg_max form as the spec.
        // Equivalence contract (r14 ADVICE): numeric-vs-lexicographic
        // agreement needs us >= 0 and ts NOT NULL — asserted by
        // TestdataDriftSpec ("q40 key contract"), not just assumed.
        val e = Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
        e.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_versions"),
            max(struct(col("us"), col("event_id"), col("event_type"),
              col("value"))).as("m"))
          .select(col("user_id"), col("n_versions"),
            col("m.event_id").as("event_id"), col("m.us").as("us"),
            col("m.event_type").as("event_type"), col("m.value").as("value"))
          .orderBy(col("user_id"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type, value,
        |    lpad(CAST(epoch_ns(ts) // 1000 AS VARCHAR), 20, '0') ||
        |    lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_versions,
        |  arg_max(event_id, k) AS event_id,
        |  arg_max(us, k) AS us,
        |  arg_max(event_type, k) AS event_type,
        |  arg_max(value, k) AS value
        |FROM e GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // -- global-share gate (TPC-H Q11 shape: HAVING vs a scalar) -------
    // Event types whose total value exceeds 1/20 of the corpus-wide
    // total — the group-vs-global scalar-subquery shape, planned as one
    // grouped agg plus a 1-row broadcast (never a correlated re-scan).
    // All arithmetic is integral: value carries ≤6 decimal digits
    // (exact in DECIMAL(18,6)), so each row becomes exact integer
    // micro-units and the share gate is a cross-multiplied BIGINT
    // compare (sum*20 > total) — no division anywhere near the filter.
    // share_ppm divides through DECIMAL(38,0) (sum*1e6 overflows BIGINT
    // at scale) with floor semantics in both engines.
    QueryDef.sql("q41_value_share",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"),
            (col("value").cast("decimal(18,6)") * 1000000).cast("long").as("iv"))
        val tot = e.agg(sum(col("iv")).as("total_iv"))
        e.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("iv")).as("sum_iv"))
          .crossJoin(broadcast(tot))
          .filter(col("sum_iv") * 20 > col("total_iv"))
          .select(col("event_type"), col("n"),
            (col("sum_iv").cast("double") / 1e6).as("total_value"),
            expr("CAST(CAST(sum_iv AS DECIMAL(38,0)) * 1000000 DIV total_iv AS BIGINT)")
              .as("share_ppm"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS iv
        |  FROM events),
        |t AS (SELECT SUM(iv) AS total_iv FROM e),
        |g AS (SELECT event_type, COUNT(*) AS n, SUM(iv) AS sum_iv FROM e GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(sum_iv AS DOUBLE) / 1e6 AS total_value,
        |  CAST(CAST(sum_iv AS HUGEINT) * 1000000 // total_iv AS BIGINT) AS share_ppm
        |FROM g, t
        |WHERE sum_iv * 20 > total_iv
        |ORDER BY event_type""".stripMargin),

    // -- unpivot / melt (the inverse of q20's pivot) -------------------
    // Wide-to-long reshaping: q20's per-user metric columns melt back
    // into (user_id, metric, n) rows — the normalization step feeding
    // any generic metrics store or plotting layer. Spark's native
    // unpivot (melt) is an Expand node: each input row fans out to one
    // row per metric entirely map-side — no shuffle beyond what the
    // wide aggregate already did, no join. DuckDB mirrors with
    // UNPIVOT; zero-count metrics are kept (include_nulls = true
    // semantics would differ — counts are never NULL here, so both
    // engines emit exactly 3 rows per user).
    QueryDef.sql("q44_unpivot_metrics",
      (s, d) => {
        val wide = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"))
        wide.unpivot(
            Array(col("user_id")),
            Array(col("n_click"), col("n_view"), col("n_purchase")),
            "metric", "n")
          .orderBy(col("user_id"), col("metric"))
      },
      """WITH wide AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_click,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_view,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_purchase
        |  FROM events GROUP BY user_id)
        |SELECT user_id, metric, n
        |FROM wide
        |UNPIVOT (n FOR metric IN (n_click, n_view, n_purchase))
        |ORDER BY user_id, metric""".stripMargin),

    // -- exponential-decay trending scores -----------------------------
    // The "what's hot NOW" rollup every activity dashboard runs: each
    // event contributes weight 2^-age, age in hours before the
    // corpus's latest event. Exact cross-engine BECAUSE the half-life
    // is a power of two: the weight is the INTEGER 1 << (30 - age)
    // (age capped at 30), summed as BIGINT (exact, order-independent;
    // max sum ~n·2^30 ≈ 2^53 at sf1 — inside BIGINT), and the final
    // score divides by 2^30 — an exact binary scaling, so the double
    // is bit-identical however the sum was ordered. No FP exp()/pow()
    // anywhere. One 1-row broadcast (the reference time) + one agg.
    QueryDef.sql("q45_trending_decay",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"), unix_micros(col("ts")).as("us"))
        val ref = e.agg(max(col("us")).as("ref_us"))
        e.crossJoin(broadcast(ref))
          .withColumn("age_h",
            least(expr("(ref_us - us) DIV 3600000000"), lit(30L)))
          .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - age_h AS INT))"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(col("w")).cast("double") / lit(1073741824.0)).as("decayed_score"))
          .orderBy(col("event_type"))
      },
      """WITH e AS (
        |  SELECT event_type, epoch_ns(ts) // 1000 AS us FROM events),
        |r AS (SELECT MAX(us) AS ref_us FROM e),
        |w AS (
        |  SELECT event_type,
        |    (CAST(1 AS BIGINT) << CAST(30 - least((ref_us - us) // 3600000000, 30)
        |      AS INTEGER)) AS w
        |  FROM e, r)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(w) AS DOUBLE) / 1073741824.0 AS decayed_score
        |FROM w
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // -- sessionization, NATIVE operator path --------------------------
    // The q21/q31 pairing applied to q19: the same 30-min-gap sessions
    // through Spark's native session_window operator (SessionWindowing
    // + MergingSessionsExec — ONE shuffle on the session key, sessions
    // merged inside the aggregate, no window-function buffer) instead
    // of the lag+running-sum window composition. Boundary contract:
    // session_window treats its window as CLOSED at the end — an event
    // at exactly prev+gap still merges (verified by construction in
    // SessionContractSpec), which is precisely q19's `> gap starts new`
    // rule — so the two operators implement the SAME contract and must
    // agree row-for-row. 100 TB: identical shuffle shape to q19 (events
    // hash by user_id once); the merging agg is O(open sessions) state
    // instead of O(events) window buffer per user.
    QueryDef.sql("q47_session_native",
      (s, d) => nativeSessions(Tables.events(s, d)).orderBy(col("user_id"), col("start_us")),
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us FROM events),
         |f AS (
         |  SELECT user_id, event_id, us,
         |    CASE WHEN us - lag(us) OVER w > $gapUs THEN 1
         |         WHEN lag(us) OVER w IS NULL THEN 1
         |         ELSE 0 END AS new_sess
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |g AS (
         |  SELECT user_id, us,
         |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_idx
         |  FROM f)
         |SELECT user_id, MIN(us) AS start_us, MAX(us) AS last_us,
         |  COUNT(*) AS n_events
         |FROM g
         |GROUP BY user_id, sess_idx
         |ORDER BY user_id, start_us""".stripMargin),

    // -- SCD-2 state history (change capture) ---------------------------
    // Slowly-changing-dimension build from an append-only event log: per
    // user, the event_type is the tracked attribute; consecutive repeats
    // are suppressed (change-only compaction), each surviving change gets
    // a [valid_from, valid_to) validity interval via lead(), and the
    // open-ended current state carries valid_to NULL. Complements
    // q40_latest_compaction (which keeps ONLY the latest row) with the
    // full auditable history. 100 TB: ONE exchange on user_id — the
    // change filter preserves the window's partitioning AND sort order,
    // so the second window pass (lead) adds no exchange and no re-sort
    // (PlanSpec pins 1 shuffle). Only (user_id, type, us) triples move.
    QueryDef.sql("q54_scd2_history",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNull ||
            col("prev_type") =!= col("event_type"))
          .select(col("user_id"), col("event_id").as("change_id"),
            col("event_type").as("state"), col("us").as("valid_from"),
            lead(col("us"), 1).over(w).as("valid_to"))
          .withColumn("is_current", col("valid_to").isNull)
          .orderBy(col("user_id"), col("valid_from"), col("change_id"))
      },
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |c AS (
        |  SELECT *, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |  FROM e),
        |f AS (
        |  SELECT user_id, event_id, event_type, us FROM c
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_id AS change_id, event_type AS state,
        |  us AS valid_from,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    AS valid_to,
        |  (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    IS NULL) AS is_current
        |FROM f
        |ORDER BY user_id, valid_from, change_id""".stripMargin),

    // -- Sliding-window velocity flags ----------------------------------
    // The fraud/rate-limit staple q18's tumbling windows can't express:
    // "N+ events by one user within ANY 10-minute span" needs windows
    // that OVERLAP, or a burst straddling a tumbling boundary goes
    // unseen. Spark's window(ts, 10min, 5min) assigns each event to its
    // 2 covering epoch-aligned slides map-side (fan-out = window/slide,
    // a constant), then it's one (window, user) rollup with map-side
    // partials — same shuffle shape as tumbling, 2× the rows in. The
    // oracle mirrors the assignment arithmetic with an explicit 2-slide
    // unnest of the event's bin and its predecessor.
    QueryDef.sql("q55_sliding_velocity",
      (s, d) => velocityFlags(Tables.events(s, d)).orderBy(col("win_start_us"), col("user_id")),
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events),
        |x AS (
        |  SELECT user_id,
        |    unnest([us // 300000000 - 1, us // 300000000]) * 300000000
        |      AS win_start_us
        |  FROM e)
        |SELECT win_start_us, user_id, COUNT(*) AS n_events
        |FROM x
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY win_start_us, user_id""".stripMargin)
  )
}
