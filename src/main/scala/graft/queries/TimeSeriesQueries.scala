package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Exact, Tables}

/** Time-series and incremental-maintenance operators — the temporal
  * surface a monthly-snapshot warehouse (SURVEY §1.1 SCD handling,
  * design.sql:447,543) grows into once feeds become daily or hourly:
  * gap repair (LOCF/backfill), value-range rolling windows, and
  * partial-aggregate state merge (incremental view maintenance — at
  * 100 TB you merge yesterday's aggregate state with today's
  * partition instead of rescanning history). All oracle-checked.
  */
object TimeSeriesQueries {

  /** LOCF gap-fill + backfill via IGNORE NULLS window functions — the
    * sensor/metrics repair idiom (carry the last observation forward;
    * seed leading gaps from the next observation). Missing readings are
    * synthesized deterministically (every 5th event_id) because the
    * fixture has no NULL values; both engines apply the identical rule.
    * ts IS NOT NULL + second-truncation pinned on both sides (Spark
    * orders NULLS FIRST, DuckDB NULLS LAST; parquet ts is nanos).
    * Scale shape: one window shuffle on user_id; frames are
    * running/unbounded-tail, which Spark evaluates incrementally —
    * no per-row frame rescans. */
  private val x_ts_locf = Q(
    "x_ts_locf_fill",
    (s, d) => {
      val e = Tables.events(s, d)
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("ts_s"),
          when(col("event_id") % 5 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("value_raw"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      e.select(col("user_id"), col("event_id"), col("ts_s"), col("value_raw"),
        last(col("value_raw"), ignoreNulls = true).over(wPrev).as("value_locf"),
        first(col("value_raw"), ignoreNulls = true).over(wNext).as("value_bfill"))
        .withColumn("value_filled",
          coalesce(col("value_locf"), col("value_bfill")))
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS ts_s,
        CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value_raw
      FROM events WHERE ts IS NOT NULL)
    SELECT user_id, event_id, ts_s, value_raw,
      LAST_VALUE(value_raw IGNORE NULLS) OVER
        (PARTITION BY user_id ORDER BY ts_s, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
      FIRST_VALUE(value_raw IGNORE NULLS) OVER
        (PARTITION BY user_id ORDER BY ts_s, event_id
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value_bfill,
      COALESCE(
        LAST_VALUE(value_raw IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY ts_s, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        FIRST_VALUE(value_raw IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY ts_s, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS value_filled
    FROM e"""))

  /** Rolling 7-day revenue per customer via a VALUE-RANGE frame
    * (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over an epoch-day
    * order key) — the frame kind ROWS cannot express: peers on the
    * same day share one frame, and absent days shrink it. The order
    * key is an integer day index so both engines frame identically
    * (interval-literal RANGE frames differ dialect-to-dialect; the
    * epoch-day form is the portable core). Frame sums run in exact
    * decimal (Exact discipline) so Spark's incremental sliding-frame
    * evaluation cannot drift from the oracle's per-frame sums. */
  private val x_ts_rolling = Q(
    "x_ts_rolling_range",
    (s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("day_idx",
          datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day_idx")).rangeBetween(-6, 0)
      o.select(col("o_custkey"), col("o_orderkey"), col("day_idx"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("rev_7d"),
        count(lit(1)).over(w).as("n_7d"))
    },
    Some("""WITH o AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
          AS INTEGER) AS day_idx
      FROM orders)
    SELECT o_custkey, o_orderkey, day_idx,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_7d,
      COUNT(*) OVER w AS n_7d
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day_idx
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)"""))

  /** Incremental aggregate maintenance: per-priority order KPIs kept as
    * MERGEABLE partial state (count / exact-decimal sum / min / max),
    * updated by full-outer-merging the base state (years < 1998) with
    * the newest partition's delta (1998) and finalizing avg at the
    * edge — the incremental-view-maintenance contract. The ORACLE is
    * the full recompute over all years: the driver compare proves
    * merge(state(base), state(delta)) == recompute(base ∪ delta),
    * which is exactly the property that lets a 100 TB deployment
    * refresh a KPI by scanning one day instead of seven years.
    * Spark's `least`/`greatest` skip NULLs, which is the wanted
    * no-rows-on-one-side merge semantics. */
  private val x_ts_incremental = Q(
    "x_ts_incremental_merge",
    (s, d) => {
      val money = DecimalType(18, 2)
      val o = Tables.orders(s, d)
        .withColumn("order_year", year(col("o_orderdate")))
      def partialState(df: DataFrame): DataFrame =
        df.groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(money)).as("s"),
            min(col("o_totalprice")).as("mn"),
            max(col("o_totalprice")).as("mx"))
      val base = partialState(o.filter(col("order_year") < 1998))
        .withColumnRenamed("n", "n_b").withColumnRenamed("s", "s_b")
        .withColumnRenamed("mn", "mn_b").withColumnRenamed("mx", "mx_b")
      val delta = partialState(o.filter(col("order_year") >= 1998))
      val zero = lit(0).cast(money)
      base.join(delta, Seq("priority"), "full_outer")
        .select(col("priority"),
          (coalesce(col("n_b"), lit(0L)) + coalesce(col("n"), lit(0L))).as("n_orders"),
          (coalesce(col("s_b"), zero) + coalesce(col("s"), zero)).as("s_all"),
          least(col("mn_b"), col("mn")).as("min_price"),
          greatest(col("mx_b"), col("mx")).as("max_price"))
        .select(col("priority"), col("n_orders"),
          col("s_all").cast("double").as("revenue"),
          (col("s_all").cast("double") / col("n_orders")).as("avg_price"),
          col("min_price"), col("max_price"))
    },
    Some(s"""SELECT o_orderpriority AS priority,
      COUNT(*) AS n_orders,
      ${Exact.sumMoneySql("o_totalprice")} AS revenue,
      ${Exact.sumMoneySql("o_totalprice")} / COUNT(*) AS avg_price,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price
    FROM orders GROUP BY 1"""))

  /** Spark's NATIVE session_window aggregation (batch form of the
    * streaming session operator — `UpdatingSessionsExec` merge, not a
    * gaps-and-islands window rewrite): 30-minute-gap sessions per user
    * with start/end/count. Boundary semantics replayed exactly by the
    * oracle: Spark merges TOUCHING windows — an event landing exactly
    * at the previous session's end (gap == the gap duration) joins that
    * session, so the oracle's island rule is `> 1800` (strict): the
    * islands of the manual `x_events_sessionize`
    * ([[SeriesFixtures.sessionIslandsSql]]; same-second ties land in
    * one session whatever their order). Caught
    * empirically at the 10× scale step: a second-truncated pair exactly
    * 1800 s apart (user 511) merges in Spark. session_end = last event
    * + 30 min, also replayed. ts second-truncated + NOT NULL on both
    * sides. */
  private val x_ts_session_window = Q(
    "x_ts_session_window",
    (s, d) => {
      val e = Tables.events(s, d).filter(col("ts").isNotNull)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts_s"))
      e.groupBy(col("user_id"),
          session_window(col("ts_s"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("w.start").as("session_start"),
          col("w.end").as("session_end"),
          col("n_events"))
    },
    Some(s"""WITH ${SeriesFixtures.sessionIslandsSql}
    SELECT user_id,
      MIN(ts_s) AS session_start,
      MAX(ts_s) + INTERVAL 30 MINUTE AS session_end,
      COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id"""))

  /** SLIDING time windows (1-hour window, 15-minute slide) — each
    * event belongs to exactly 4 overlapping windows; Spark's `window`
    * plans this as one Expand (4 rows per event) + hash aggregate,
    * which is the correct one-pass shape (re-scanning per offset would
    * read the fact 4×). The oracle replays the window-assignment rule
    * arithmetically: starts are slide-aligned to the epoch,
    * start = (epoch div 900 − k)·900 for k = 0…3. ts second-truncated
    * + NOT NULL on both sides (Spark's `window` silently DROPS
    * NULL-ts rows; the filter makes that explicit). */
  private val x_ts_sliding_window = Q(
    "x_ts_sliding_window",
    (s, d) => {
      val e = Tables.events(s, d).filter(col("ts").isNotNull)
        .select(col("event_type"), col("user_id"),
          date_trunc("second", col("ts")).as("ts_s"))
      e.groupBy(window(col("ts_s"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("w.start").as("window_start"),
          col("w.end").as("window_end"),
          col("event_type"), col("n_events"), col("n_users"))
    },
    Some("""WITH e AS (
      SELECT event_type, user_id,
        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      FROM events WHERE ts IS NOT NULL),
    assigned AS (
      SELECT event_type, user_id,
        (sec // 900 - k) * 900 AS win_start
      FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k))
    SELECT make_timestamp(win_start * 1000000) AS window_start,
      make_timestamp((win_start + 3600) * 1000000) AS window_end,
      event_type,
      COUNT(*) AS n_events,
      COUNT(DISTINCT user_id) AS n_users
    FROM assigned GROUP BY 1, 2, 3"""))

  /** LINEAR interpolation gap-fill — the numeric upgrade of LOCF for
    * continuously-varying signals: a missing reading is reconstructed
    * from the bracketing observations, weighted by elapsed time
    * (v_prev + (v_next−v_prev)·(t−t_prev)/(t_next−t_prev)). Neighbor
    * lookup is two IGNORE-NULLS window scans with STRICT frames
    * (…,-1 and +1,…) so a row never brackets itself; value and
    * timestamp are pulled by the same non-null predicate, so both come
    * from the same neighbor row. Edge rows with no bracket on one side
    * stay NULL (interpolation needs two anchors — LOCF is the other
    * query's contract). The equal-timestamp degenerate bracket (two
    * anchors in the same second) takes v_prev, guarding the 0/0 that
    * ANSI mode would throw on. Same scale shape as LOCF: one window
    * shuffle on user_id, incrementally-evaluated frames, rounded to
    * 6dp before compare so the shared IEEE op order is belt-and-braces
    * rather than load-bearing. */
  private val x_ts_interpolate = Q(
    "x_ts_interpolate",
    (s, d) => {
      val e = Tables.events(s, d)
        .filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("ts_s"),
          when(col("event_id") % 5 === 0, lit(null).cast("double"))
            .otherwise(col("value")).as("value_raw"))
        .withColumn("t", col("ts_s").cast("long"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val wNext = w.rowsBetween(1, Window.unboundedFollowing)
      val obs = when(col("value_raw").isNotNull, col("value_raw"))
      val obsT = when(col("value_raw").isNotNull, col("t"))
      val withN = e
        .withColumn("vp", last(obs, ignoreNulls = true).over(wPrev))
        .withColumn("tp", last(obsT, ignoreNulls = true).over(wPrev))
        .withColumn("vn", first(obs, ignoreNulls = true).over(wNext))
        .withColumn("tn", first(obsT, ignoreNulls = true).over(wNext))
      withN.select(col("user_id"), col("event_id"), col("ts_s"), col("value_raw"),
        round(
          when(col("value_raw").isNotNull, col("value_raw"))
            .when(col("vp").isNull || col("vn").isNull, lit(null).cast("double"))
            .when(col("tn") === col("tp"), col("vp"))
            .otherwise(col("vp") + (col("vn") - col("vp")) *
              (col("t") - col("tp")).cast("double") /
              (col("tn") - col("tp")).cast("double")), 6).as("value_interp"))
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS ts_s,
        CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value_raw,
        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
      FROM events WHERE ts IS NOT NULL),
    n AS (
      SELECT user_id, event_id, ts_s, value_raw, t,
        LAST_VALUE(CASE WHEN value_raw IS NOT NULL THEN value_raw END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vp,
        LAST_VALUE(CASE WHEN value_raw IS NOT NULL THEN t END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tp,
        FIRST_VALUE(CASE WHEN value_raw IS NOT NULL THEN value_raw END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS vn,
        FIRST_VALUE(CASE WHEN value_raw IS NOT NULL THEN t END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS tn
      FROM e)
    SELECT user_id, event_id, ts_s, value_raw,
      ROUND(CASE
        WHEN value_raw IS NOT NULL THEN value_raw
        WHEN vp IS NULL OR vn IS NULL THEN NULL
        WHEN tn = tp THEN vp
        ELSE vp + (vn - vp) * CAST(t - tp AS DOUBLE) / CAST(tn - tp AS DOUBLE)
      END, 6) AS value_interp
    FROM n"""))

  /** Interval-union coverage (gaps-and-islands over overlapping
    * intervals): each event claims [t, t+60s); per user, the UNION of
    * those intervals — total covered seconds and island count — the
    * dwell-time/uptime aggregation naive SUM double-counts overlaps
    * on. Island boundary = start strictly beyond the running max end
    * of all earlier intervals; a total tiebreak (st, en, event_id)
    * keeps the prefix max deterministic under same-start ties (the
    * flag would otherwise depend on tie order). All integer seconds —
    * engine-exact. One per-user window + one aggregate; frames never
    * exceed a user's events. */
  private val x_ts_interval_union = Q(
    "x_ts_interval_union",
    (s, d) => {
      val e = Tables.events(s, d).filter(col("ts").isNotNull)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(date_trunc("second", col("ts"))).as("st"))
        .withColumn("en", col("st") + 60)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("en"), col("event_id"))
      val flagged = e.withColumn("prev_max",
          max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("new_island",
          when(col("prev_max").isNull || col("st") > col("prev_max"), 1L)
            .otherwise(0L))
        .withColumn("island",
          sum(col("new_island"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      flagged.groupBy(col("user_id"), col("island"))
        .agg(min(col("st")).as("i_st"), max(col("en")).as("i_en"))
        .groupBy(col("user_id"))
        .agg(sum(col("i_en") - col("i_st")).cast("long").as("covered_s"),
          count(lit(1)).cast("int").as("n_islands"))
    },
    Some("""WITH e AS (
      SELECT user_id, event_id,
        epoch(date_trunc('second', ts)) AS st,
        epoch(date_trunc('second', ts)) + 60 AS en
      FROM events WHERE ts IS NOT NULL),
    f AS (
      SELECT user_id, event_id, st, en,
        MAX(en) OVER (PARTITION BY user_id ORDER BY st, en, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM e),
    g AS (
      SELECT user_id, st, en,
        SUM(CASE WHEN prev_max IS NULL OR st > prev_max THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY st, en, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM f),
    i AS (
      SELECT user_id, island, MIN(st) AS i_st, MAX(en) AS i_en
      FROM g GROUP BY 1, 2)
    SELECT user_id, CAST(SUM(i_en - i_st) AS BIGINT) AS covered_s,
      CAST(COUNT(*) AS INTEGER) AS n_islands
    FROM i GROUP BY 1"""))

  /** Largest-Triangle-One-Bucket downsampling to ≤ 18 points per user
    * series (16 interior buckets + both endpoints) — the
    * shape-preserving decimation dashboards run before plotting
    * (Steinarsson 2013, "Downsampling Time Series for Visual
    * Representation", public thesis). LTOB is the PARALLEL member of
    * the largest-triangle family: each point's effective area is the
    * triangle over its immediate neighbors (one lag/lead window pass),
    * and the max-area point of each bucket is kept — unlike LTTB,
    * whose previous-selected-point dependency is inherently sequential
    * per series and would serialize the scan. Endpoints are always
    * kept, modeled as their own buckets (-1 and 16) so ONE group-limit
    * pass selects everything — no filter-per-role UNION re-scanning
    * the window frame.
    *
    * Exactness: x = epoch seconds (integer, UTC session), y =
    * micro-quantized value, so the cross-product area is an exact
    * BIGINT on both engines; bucket assignment is integer division
    * (div / //). Ties break (area desc NULLS LAST, rn) — total order.
    * Scale shape: two windows, both PARTITION BY user (fine-grained,
    * no skew magnet); the bucket pick is a WindowGroupLimit. */
  private val x_ts_lttb = Q(
    "x_ts_lttb_downsample",
    (s, d) => {
      val e = Tables.events(s, d)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("ts_s"), col("value"),
          round(col("value") * 1e6).cast("long").as("ym"))
        .withColumn("x", unix_timestamp(col("ts_s")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_s"), col("event_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val pts = e
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("xp", lag(col("x"), 1).over(w))
        .withColumn("yp", lag(col("ym"), 1).over(w))
        .withColumn("xn", lead(col("x"), 1).over(w))
        .withColumn("yn", lead(col("ym"), 1).over(w))
        .withColumn("area",
          abs((col("x") - col("xp")) * (col("yn") - col("yp"))
            - (col("xn") - col("xp")) * (col("ym") - col("yp"))))
        .withColumn("bucket",
          when(col("rn") === 1, lit(-1L))
            .when(col("rn") === col("n"), lit(16L))
            .otherwise(expr("((rn - 1) * 16) div n")))
      val wb = Window.partitionBy(col("user_id"), col("bucket"))
        .orderBy(col("area").desc_nulls_last, col("rn"))
      pts.withColumn("pick", row_number().over(wb))
        .filter(col("pick") === 1)
        .select(col("user_id"), col("bucket"), col("event_id"),
          col("ts_s"), col("value"), col("area"))
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS ts_s, value,
        CAST(ROUND(value * 1e6) AS BIGINT) AS ym,
        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS x
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
    p AS (
      SELECT user_id, event_id, ts_s, value, x, ym,
        ROW_NUMBER() OVER w AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS n,
        LAG(x) OVER w AS xp, LAG(ym) OVER w AS yp,
        LEAD(x) OVER w AS xn, LEAD(ym) OVER w AS yn
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)),
    b AS (
      SELECT user_id, event_id, ts_s, value, rn,
        ABS((x - xp) * (yn - yp) - (xn - xp) * (ym - yp)) AS area,
        CAST(CASE WHEN rn = 1 THEN -1
             WHEN rn = n THEN 16
             ELSE ((rn - 1) * 16) // n END AS BIGINT) AS bucket
      FROM p)
    SELECT user_id, bucket, event_id, ts_s, value, area
    FROM b
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, bucket
      ORDER BY area DESC NULLS LAST, rn) = 1"""))

  /** Matrix profile over the daily event-count series (Yeh et al.
    * 2016, the motif/discord primitive): for every length-7
    * subsequence of the day-ordered series, the squared-L2 distance
    * to its nearest non-trivial neighbor (exclusion zone |i−j| < 4 =
    * ⌈m/2⌉, the standard trivial-match guard) and WHERE that neighbor
    * sits. Low profile values = repeated weekly motifs; the maximum =
    * the series' discord (anomalous week). Distances are exact BIGINT
    * sums of squared count differences — no z-normalization floats;
    * argmin tie-breaks to the earlier neighbor day.
    *
    * Scale shape: ONE combinable daily count touches the corpus;
    * subsequences come from a bounded rows-frame window over the
    * calendar frame, and the all-pairs join is calendar² (≤366² —
    * bounded at any corpus size, the Theil–Sen discipline). For
    * minute-level series the banded/STOMP refinement bounds pairs;
    * at daily grain the exact quadratic IS the cheap option. */
  private val x_ts_matrix_profile = Q(
    "x_ts_matrix_profile",
    (s, d) => {
      val m = 7
      val daily = Tables.events(s, d).filter(col("ts").isNotNull)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .select(datediff(col("day"), to_date(lit("1970-01-01")))
          .cast("long").as("dn"), col("y"))
      val wOrd = Window.orderBy(col("dn"))
      val subs = daily
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("v",
          collect_list(col("y")).over(wOrd.rowsBetween(0, m - 1)))
        .filter(size(col("v")) === m)
        .localCheckpoint(true) // both sides of the pair join
      val a = subs.select(col("rn").as("ri"), col("dn").as("dni"),
        col("v").as("va"))
      val b = subs.select(col("rn").as("rj"), col("dn").as("dnj"),
        col("v").as("vb"))
      val prof = a.join(b, abs(col("ri") - col("rj")) >= m / 2 + 1)
        .select(col("ri"), col("dni"), col("dnj"),
          expr("""aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)),
            | 0L, (acc, e) -> acc + e)""".stripMargin).as("d2"))
        .groupBy(col("ri"), col("dni"))
        .agg(min(struct(col("d2"), col("dnj"))).as("b"))
      prof.select(col("dni").as("dn"), col("b.dnj").as("nn_dn"),
        col("b.d2").as("dist2"))
    },
    Some("""WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
          CAST(COUNT(*) AS BIGINT) AS y
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1),
      subs AS (
        SELECT dn, rn, v FROM (
          SELECT dn, ROW_NUMBER() OVER (ORDER BY dn) AS rn,
            list(y) OVER (ORDER BY dn
              ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING) AS v
          FROM daily)
        WHERE len(v) = 7),
      pairs AS (
        SELECT a.rn AS ri, a.dn AS dni, b.dn AS dnj,
          CAST(list_sum(list_transform(range(1, 8),
            i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS BIGINT) AS d2
        FROM subs a JOIN subs b ON abs(a.rn - b.rn) >= 4)
      SELECT dni AS dn, dnj AS nn_dn, d2 AS dist2 FROM (
        SELECT dni, dnj, d2,
          ROW_NUMBER() OVER (PARTITION BY ri ORDER BY d2, dnj) AS pick
        FROM pairs)
      WHERE pick = 1"""))

  def all: Seq[Q] = Seq(
    x_ts_locf,
    x_ts_rolling,
    x_ts_incremental,
    x_ts_interpolate,
    x_ts_session_window,
    x_ts_sliding_window,
    x_ts_interval_union,
    x_ts_lttb,
    x_ts_matrix_profile,
  )
}
