package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Exact, Landing, Tables}
import graft.ops.{Features, Quality, Qualify, Snapshot, TextOps}
import graft.streaming.EventStream

/** ELT-hardening tier: the warehouse-maintenance operators a team
  * migrating the reference pipeline asks for next — a true SCD Type-2
  * snapshot merge (the reference stores full monthly snapshots instead,
  * design.sql:3/413; see [[graft.ops.Snapshot]]) and declarative data-
  * quality audits standing in for the PK/FK constraints Spark cannot
  * enforce (design.sql:413–414; see [[graft.ops.Quality]]). Both are
  * oracle-checked against DuckDB.
  */
object EltQueries {

  /** One SCD2 merge step, simulated on testdata: the "entity" is a
    * customer active in a year, its tracked attribute the priority of
    * their latest order that year (deterministic arg-max by orderdate
    * then orderkey). Ledger bootstrapped from the 1996 snapshot, then
    * merged with 1997 — exercising all four merge outcomes (unchanged /
    * changed / new / soft-deleted). */
  private val x_scd2_merge = Q(
    "x_scd2_merge",
    (s, d) => {
      def snap(y: Int): DataFrame = Qualify.rowNumber(
        Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === y)
          .select(col("o_custkey").as("custkey"),
            col("o_orderpriority").as("priority"),
            col("o_orderdate"), col("o_orderkey")),
        partCols = Seq(col("custkey")),
        orderCols = Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select("custkey", "priority")
      val ledger = Snapshot.scd2Init(snap(1996), lit("1996-01-01").cast("date"))
      Snapshot.scd2Merge(ledger, snap(1997),
        keyCols = Seq("custkey"), attrCols = Seq("priority"),
        asOf = lit("1997-01-01").cast("date"))
    },
    Some("""WITH snap_a AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority, 1 AS pa
      FROM orders WHERE year(o_orderdate) = 1996
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
    snap_b AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority, 1 AS pb
      FROM orders WHERE year(o_orderdate) = 1997
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
    j AS (
      SELECT a.custkey AS ck_a, a.priority AS pr_a, a.pa,
             b.custkey AS ck_b, b.priority AS pr_b, b.pb
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.custkey = b.custkey)
    SELECT ck_a AS custkey, pr_a AS priority,
      DATE '1996-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
      TRUE AS is_current
    FROM j WHERE pa IS NOT NULL AND pb IS NOT NULL
      AND pr_a IS NOT DISTINCT FROM pr_b
    UNION ALL
    SELECT ck_a, pr_a, DATE '1996-01-01', DATE '1997-01-01', FALSE
    FROM j WHERE pa IS NOT NULL
      AND (pb IS NULL OR pr_a IS DISTINCT FROM pr_b)
    UNION ALL
    SELECT ck_b, pr_b, DATE '1997-01-01', CAST(NULL AS DATE), TRUE
    FROM j WHERE pb IS NOT NULL
      AND (pa IS NULL OR pr_a IS DISTINCT FROM pr_b)"""))

  /** Constraint audit across three tables in one result: row-predicate
    * checks (single scan each), PK-uniqueness (one shuffle), and FK
    * orphan counts (left-anti joins). Violation counts are genuinely
    * non-zero in the testdata ((l_orderkey, l_linenumber) is not unique;
    * events.user_id has customers-table orphans), so the audit is
    * exercised, not vacuous. */
  private val x_dq_audit = Q(
    "x_dq_audit",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val ev = Tables.events(s, d)
      val rowChecks = Quality.auditRows(li, Seq(
        Quality.notNull("l_shipdate"),
        Quality.inSet("l_returnflag", Seq("R", "A", "N")),
        Quality.inRange("l_discount", lit(0.0), lit(0.1)),
        Quality.inRange("l_quantity", lit(1.0), lit(40.0))))
      rowChecks
        .unionByName(Quality.auditUniqueKey(li, Seq("l_orderkey", "l_linenumber")))
        .unionByName(Quality.auditUniqueKey(ord, Seq("o_orderkey")))
        .unionByName(Quality.auditForeignKey(li, "l_orderkey", ord, "o_orderkey",
          broadcastDim = false)) // |orders| ~ |lineitem|/4: never broadcast
        .unionByName(Quality.auditForeignKey(ev, "user_id", cust, "c_custkey"))
        .withColumnRenamed("check", "check_name")
    },
    Some("""SELECT 'not_null_l_shipdate' AS check_name,
      CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'in_set_l_returnflag',
      CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
        AND l_returnflag NOT IN ('R','A','N') THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'in_range_l_discount',
      CAST(SUM(CASE WHEN l_discount IS NOT NULL
        AND l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'in_range_l_quantity',
      CAST(SUM(CASE WHEN l_quantity IS NOT NULL
        AND l_quantity NOT BETWEEN 1.0 AND 40.0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'unique_key_l_orderkey_l_linenumber',
      CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
    UNION ALL
    SELECT 'unique_key_o_orderkey', CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
    UNION ALL
    SELECT 'fk_l_orderkey_to_o_orderkey', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
    UNION ALL
    SELECT 'fk_user_id_to_c_custkey', CAST(COUNT(*) AS BIGINT)
    FROM events e LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON e.user_id = c.c_custkey
    WHERE e.user_id IS NOT NULL AND c.c_custkey IS NULL"""))

  /** One-scan numeric profile of the fact table (Quality.profileNumeric)
    * — the stats layer a warehouse load publishes next to its audit.
    * Variance via exact decimal (Σx, Σx²): order-independent under
    * parallel aggregation, so DuckDB reproduces it bit-for-bit where
    * stddev_samp(double) never could. */
  private val x_dq_profile = Q(
    "x_dq_profile",
    (s, d) => Quality.profileNumeric(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    Some {
      // mean/variance replayed in exact HUGEINT cents, rounding to 6dp
      // via truncating integer division (half-away-from-zero) — the
      // double form diverged because DuckDB's huge-decimal→double cast
      // is not correctly rounded (±1 ulp at >2^53; measured −0.25 at
      // sf0.1). See Quality.profileNumeric.
      def arm(c: String) =
        s"""SELECT '$c' AS col_name, COUNT($c) AS n,
        CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        CAST(MIN($c) AS DOUBLE) AS min, CAST(MAX($c) AS DOUBLE) AS max,
        CASE WHEN COUNT($c) > 0 THEN
          CAST((2 * SUM(CAST(CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT)) * 10000
              + (CASE WHEN SUM(CAST(CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT)) >= 0
                 THEN COUNT($c) ELSE -COUNT($c) END))
            // (2 * COUNT($c)) AS DOUBLE) / 1e6
        END AS mean,
        CASE WHEN COUNT($c) > 1 THEN
          CAST((2 * (COUNT($c) * SUM(CAST(CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT)
                                     * CAST(CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT))
                   - SUM(CAST(CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT))
                     * SUM(CAST(CAST($c AS DECIMAL(18,2)) * 100 AS HUGEINT))) * 100
              + (COUNT($c) * (COUNT($c) - 1)))
            // (2 * COUNT($c) * (COUNT($c) - 1)) AS DOUBLE) / 1e6
        END AS variance
      FROM lineitem"""
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(arm).mkString("\nUNION ALL\n")
    })

  /** Price-distribution histogram (Quality.histogram), dense 0-filled
    * bins. DuckDB has no width_bucket, so the oracle mirrors Spark's
    * formula op-for-op — floor((x − lo) / ((hi − lo) / n)) + 1 with
    * under/overflow bins — keeping boundary values (prices land exactly
    * on bin edges) in identical IEEE arithmetic on both engines. */
  private val x_dq_histogram = Q(
    "x_dq_histogram",
    (s, d) => Quality.histogram(Tables.orders(s, d), "o_totalprice",
      lo = 0.0, hi = 500000.0, nBuckets = 20),
    Some("""WITH counts AS (
      SELECT CASE
          WHEN CAST(o_totalprice AS DOUBLE) < 0.0 THEN 0
          WHEN CAST(o_totalprice AS DOUBLE) >= 500000.0 THEN 21
          ELSE CAST(floor((CAST(o_totalprice AS DOUBLE) - 0.0)
                          / ((500000.0 - 0.0) / 20)) AS BIGINT) + 1
        END AS bucket,
        COUNT(*) AS n_rows
      FROM orders WHERE o_totalprice IS NOT NULL
      GROUP BY 1)
    SELECT b.bucket, COALESCE(c.n_rows, 0) AS n_rows
    FROM (SELECT unnest(range(0, 22)) AS bucket) b
    LEFT JOIN counts c USING (bucket)"""))

  /** Per-group winsorization + robust scaling — the outlier-taming
    * transform feature pipelines apply before training (clamp to the
    * [p05, p95] band; center/scale by median and IQR, which outliers
    * cannot drag the way mean/stddev can). Percentiles are EXACT
    * (Spark `percentile` = the p·(n−1) linear-interpolation definition
    * shared by DuckDB's percentile_cont) computed once per group — 25
    * brand groups, so the stats side is a broadcast join back onto the
    * row stream, keeping the per-row pass map-side. At 100 TB the same
    * shape holds while group count stays bounded; for high-cardinality
    * groups the sketch suite's KLL approx_percentile is the drop-in
    * (documented trade: exact percentile materializes each group's
    * values). Degenerate IQR=0 → NULL z (no spread to scale by). */
  private val x_dq_winsorize = Q(
    "x_dq_winsorize",
    (s, d) => {
      val part = Tables.part(s, d)
      val price = col("p_retailprice")
      val stats = part.groupBy(col("p_brand")).agg(
        percentile(price, lit(0.05)).as("lo"),
        percentile(price, lit(0.95)).as("hi"),
        percentile(price, lit(0.25)).as("q1"),
        percentile(price, lit(0.5)).as("med"),
        percentile(price, lit(0.75)).as("q3"))
      part.join(broadcast(stats), "p_brand")
        .select(col("p_partkey"), col("p_brand"), price.as("price"),
          round(least(greatest(price, col("lo")), col("hi")), 6).as("price_w"),
          when(col("q3") > col("q1"),
            round((price - col("med")) / (col("q3") - col("q1")), 6))
            .as("z_robust"))
    },
    Some("""WITH stx AS (
      SELECT p_brand,
        percentile_cont(0.05) WITHIN GROUP (ORDER BY p_retailprice) AS lo,
        percentile_cont(0.95) WITHIN GROUP (ORDER BY p_retailprice) AS hi,
        percentile_cont(0.25) WITHIN GROUP (ORDER BY p_retailprice) AS q1,
        percentile_cont(0.5)  WITHIN GROUP (ORDER BY p_retailprice) AS med,
        percentile_cont(0.75) WITHIN GROUP (ORDER BY p_retailprice) AS q3
      FROM part GROUP BY p_brand)
    SELECT p.p_partkey, p.p_brand, p.p_retailprice AS price,
      ROUND(LEAST(GREATEST(p.p_retailprice, s.lo), s.hi), 6) AS price_w,
      CASE WHEN s.q3 > s.q1
        THEN ROUND((p.p_retailprice - s.med) / (s.q3 - s.q1), 6) END AS z_robust
    FROM part p JOIN stx s USING (p_brand)"""))

  /** MAD robust outlier audit ([[Quality.madOutliers]]) per order
    * priority — median/MAD have a 50% breakdown point, so unlike the
    * mean/stddev z-score the detector is not dragged by the outliers
    * it should flag. Summary bounded by |groups|; the consistency
    * constant 1.4826 and the Hampel cut 3.5 are engine-shared
    * literals; a zero-MAD group yields NULL z by contract. */
  private val x_dq_mad = Q(
    "x_dq_mad_outliers",
    (s, d) => Quality.madOutliers(Tables.orders(s, d),
        col("o_orderpriority"), col("o_totalprice"))
      .withColumnRenamed("grp", "priority"),
    Some(s"""WITH src AS (
      SELECT o_orderpriority AS grp, o_totalprice AS x FROM orders),
    ${Quality.madOutliersSql("src")}
    SELECT grp AS priority, n, med, mad, n_outliers, max_z
    FROM __mad_out"""))

  /** Hashing-trick feature projection ([[Features.hashedFeatures]],
    * dim = 8): three categoricals (order status, priority, and the
    * UNBOUNDED-cardinality customer key — the case the trick exists
    * for) one-hot under signed hashing plus the price in integer
    * cents, all summed into 8 fixed slots. Row-local (two portable
    * digests per feature, zero shuffle, exact long sums) — the oracle
    * replays every slot bit-for-bit. */
  private val x_feat_hashing = Q(
    "x_feat_hashing",
    (s, d) => Features.hashedFeatures(Tables.orders(s, d),
      col("o_orderkey"),
      Seq(
        concat(lit("stat="), col("o_orderstatus")) -> lit(1L),
        concat(lit("prio="), col("o_orderpriority")) -> lit(1L),
        concat(lit("cust="), col("o_custkey")) -> lit(1L),
        lit("price").as("pn") -> round(col("o_totalprice") * 100, 0)),
      dim = 8),
    Some(s"""WITH ${Features.hashedFeaturesSql("orders", "o_orderkey",
        Seq(
          "'stat=' || o_orderstatus" -> "1",
          "'prio=' || o_orderpriority" -> "1",
          "'cust=' || CAST(o_custkey AS VARCHAR)" -> "1",
          "'price'" -> "ROUND(CAST(o_totalprice AS DOUBLE) * 100, 0)"),
        dim = 8)}
    SELECT * FROM __fh_out"""))

  /** Differentially-private release of order counts per (priority,
    * year) under the truncated geometric mechanism
    * ([[Quality.dpNoisyCounts]], ε = 0.5, B = 16) — noise drawn by
    * integer inverse-CDF against thresholds precomputed once and
    * embedded in BOTH engines, so the whole mechanism replays
    * bit-exactly (a deployment swaps the public seed for a secret one
    * and drops the diagnostic columns). */
  private val x_dq_dp = Q(
    "x_dq_dp_counts",
    (s, d) => Quality.dpNoisyCounts(
        Tables.orders(s, d).filter(col("o_orderdate").isNotNull),
        Seq(col("o_orderpriority"), year(col("o_orderdate")).as("yr")),
        eps = 0.5)
      .select(col("o_orderpriority"), col("yr"), col("n_true"),
        col("noise"), col("n_noisy")),
    Some(s"""WITH src AS (
      SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS yr
      FROM orders WHERE o_orderdate IS NOT NULL),
    ${Quality.dpNoisyCountsSql("src", Seq("o_orderpriority", "yr"),
        eps = 0.5)}
    SELECT o_orderpriority, yr, n_true, noise, n_noisy FROM __dp_out"""))

  /** Histogram best-split search ([[Features.bestSplit]]) — the GBDT
    * inner loop as a statistics problem: quantity bins vs extended
    * price (strongly predictive by construction: price ≈ qty × unit
    * price), one combinable histogram aggregate, gain argmax over the
    * 50-bin frame. The Σy² cancellation means only counts and sums
    * ever ship. */
  private val x_ml_split = Q(
    "x_ml_split_finder",
    (s, d) => Features.bestSplit(Tables.lineitem(s, d),
      col("l_quantity"), col("l_extendedprice"),
      lo = 0.0, hi = 50.0, nBins = 50),
    Some(s"""WITH src AS (
      SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
    ${Features.bestSplitSql("src", lo = 0.0, hi = 50.0, nBins = 50)}
    SELECT split_bin, threshold, n_left, n_right, gain_micro, sse_parent
    FROM __split_out"""))

  /** TWO gradient-boosting rounds — the sequential composition the
    * single split finder above can't show: round 1 fits a depth-1
    * stump on quantity, its half-learning-rate leaf predictions are
    * subtracted EXACTLY (everything in integer cents: leaf mean
    * = Σy DIV n, prediction = leaf DIV 2 — truncating division on
    * both engines), and round 2 finds the best split of the RESIDUAL
    * on a second feature (discount). Gains use the bestSplit formula
    * (Σy² cancels; double finalized once from exact integers, micro-
    * rounded).
    *
    * Scale shape: each round is ONE combinable histogram aggregate
    * over the scan (50/11 bins) + a broadcast 1-row split frame; the
    * residual projection is map-side arithmetic against that
    * broadcast — boosting at 100 TB is exactly N sequential scans
    * with model-sized state between them. */
  private val x_ml_gbdt = Q(
    "x_ml_gbdt_rounds",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val src = Tables.lineitem(s, d)
        .filter(col("l_quantity").isNotNull && col("l_extendedprice").isNotNull)
        .select(col("l_quantity").cast("double").as("x1"),
          expr("CAST(ROUND(CAST(l_discount AS DOUBLE) * 100, 0) AS BIGINT)")
            .as("x2"),
          expr("CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 100, 0) AS BIGINT)")
            .as("y_mc"))
        .localCheckpoint(true) // consumed by both histogram rounds
      def gains(hist: DataFrame, nBins: Int): DataFrame = {
        val w = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist
          .withColumn("nl", sum(col("n")).over(w))
          .withColumn("syl", sum(col("sy")).over(w))
        val tot = hist.agg(sum(col("n")).cast("long").as("nt"),
          sum(col("sy")).cast("long").as("syt"))
        cum.crossJoin(broadcast(tot))
          .filter(col("nl") > 0 && col("nl") < col("nt"))
          .withColumn("gain_micro", round((
            col("syl").cast("double") * col("syl").cast("double")
              / col("nl").cast("double")
              + (col("syt") - col("syl")).cast("double")
                * (col("syt") - col("syl")).cast("double")
                / (col("nt") - col("nl")).cast("double")
              - col("syt").cast("double") * col("syt").cast("double")
                / col("nt").cast("double")) / lit(1e6)).cast("long"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("gain_micro").desc, col("bin"))))
          .filter(col("rk") === 1)
      }
      // round 1: quantity bins 0..49
      val h1 = src
        .withColumn("bin", least(greatest(floor(col("x1")).cast("long"),
          lit(0L)), lit(49L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("y_mc")).as("sy"))
      val s1 = gains(h1, 50)
        .select(col("bin").as("bin1"), col("nl").as("nl1"),
          col("syl").cast("long").as("syl1"), col("nt").as("nt1"),
          col("syt").as("syt1"), col("gain_micro").as("gain1"))
        .localCheckpoint(true)
      // exact integer leaf predictions at lr = 1/2
      val withPred = src.crossJoin(broadcast(s1))
        .withColumn("pred_mc", expr(
          "CASE WHEN CAST(FLOOR(x1) AS BIGINT) <= bin1" +
            " THEN (syl1 DIV nl1) DIV 2" +
            " ELSE ((syt1 - syl1) DIV (nt1 - nl1)) DIV 2 END"))
        .withColumn("r_mc", col("y_mc") - col("pred_mc"))
      // round 2: residual vs discount percent bins 0..10
      val h2 = withPred
        .withColumn("bin", least(greatest(col("x2"), lit(0L)), lit(10L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).cast("long").as("n"), sum(col("r_mc")).as("sy"))
      val s2 = gains(h2, 11)
      val r1 = s1.select(lit(1L).as("round"), lit("quantity").as("feature"),
        col("bin1").as("split_bin"), col("nl1").cast("long").as("n_left"),
        (col("nt1") - col("nl1")).cast("long").as("n_right"),
        col("gain1").as("gain_micro"))
      val r2 = s2.select(lit(2L).as("round"), lit("discount").as("feature"),
        col("bin").as("split_bin"), col("nl").cast("long").as("n_left"),
        (col("nt") - col("nl")).cast("long").as("n_right"),
        col("gain_micro"))
      r1.unionByName(r2)
    },
    Some("""WITH src AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x1,
        CAST(ROUND(CAST(l_discount AS DOUBLE) * 100, 0) AS BIGINT) AS x2,
        CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 100, 0) AS BIGINT)
          AS y_mc
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    h1 AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(x1) AS BIGINT), 0), 49) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y_mc) AS BIGINT) AS sy
      FROM src GROUP BY 1),
    c1 AS (
      SELECT bin, CAST(SUM(n) OVER w AS BIGINT) AS nl,
        CAST(SUM(sy) OVER w AS BIGINT) AS syl
      FROM h1
      WINDOW w AS (ORDER BY bin
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t1 AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
      CAST(SUM(sy) AS BIGINT) AS syt FROM h1),
    g1 AS (
      SELECT bin, nl, syl, nt, syt,
        CAST(ROUND((CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)
            / CAST(nl AS DOUBLE)
          + CAST(syt - syl AS DOUBLE) * CAST(syt - syl AS DOUBLE)
            / CAST(nt - nl AS DOUBLE)
          - CAST(syt AS DOUBLE) * CAST(syt AS DOUBLE)
            / CAST(nt AS DOUBLE)) / 1e6) AS BIGINT) AS gain_micro
      FROM c1 CROSS JOIN t1 WHERE nl > 0 AND nl < nt),
    s1 AS (
      SELECT bin AS bin1, nl AS nl1, syl AS syl1, nt AS nt1, syt AS syt1,
        gain_micro AS gain1
      FROM g1
      QUALIFY ROW_NUMBER() OVER (ORDER BY gain_micro DESC, bin) = 1),
    resid AS (
      SELECT x2,
        y_mc - (CASE WHEN CAST(FLOOR(x1) AS BIGINT) <= bin1
          THEN (syl1 // nl1) // 2
          ELSE ((syt1 - syl1) // (nt1 - nl1)) // 2 END) AS r_mc
      FROM src CROSS JOIN s1),
    h2 AS (
      SELECT LEAST(GREATEST(x2, 0), 10) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r_mc) AS BIGINT) AS sy
      FROM resid GROUP BY 1),
    c2 AS (
      SELECT bin, CAST(SUM(n) OVER w AS BIGINT) AS nl,
        CAST(SUM(sy) OVER w AS BIGINT) AS syl
      FROM h2
      WINDOW w AS (ORDER BY bin
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t2 AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
      CAST(SUM(sy) AS BIGINT) AS syt FROM h2),
    g2 AS (
      SELECT bin, nl, nt,
        CAST(ROUND((CAST(syl AS DOUBLE) * CAST(syl AS DOUBLE)
            / CAST(nl AS DOUBLE)
          + CAST(syt - syl AS DOUBLE) * CAST(syt - syl AS DOUBLE)
            / CAST(nt - nl AS DOUBLE)
          - CAST(syt AS DOUBLE) * CAST(syt AS DOUBLE)
            / CAST(nt AS DOUBLE)) / 1e6) AS BIGINT) AS gain_micro
      FROM c2 CROSS JOIN t2 WHERE nl > 0 AND nl < nt),
    s2 AS (
      SELECT bin, nl, nt, gain_micro FROM g2
      QUALIFY ROW_NUMBER() OVER (ORDER BY gain_micro DESC, bin) = 1)
    SELECT CAST(1 AS BIGINT) AS round, 'quantity' AS feature,
      bin1 AS split_bin, nl1 AS n_left, nt1 - nl1 AS n_right,
      gain1 AS gain_micro
    FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'discount', bin, nl, nt - nl, gain_micro
    FROM s2"""))

  /** One logistic-regression gradient-descent step over lineitem
    * features — the linear-probe trainer as a pure aggregation. With
    * fixed weights w₀, the batch gradient Σ(σ(w·x) − y)·x is one
    * combinable SUM per feature: per-row contributions are quantized
    * to exact micro-unit BIGINTs (the lp_micro discipline — sums
    * become order-independent; the ≤1-ulp exp() difference between
    * engines sits ten decades below the rounding quantum), so the
    * whole step is a single map-side-combined aggregate producing one
    * 4-number gradient — no per-feature shuffle, no driver math beyond
    * the final 4-row stack. That shape IS minibatch SGD at 100 TB:
    * each step one scan, gradient size = model size. */
  private val x_ml_logreg = Q(
    "x_ml_logreg_step",
    (s, d) => {
      val f = Tables.lineitem(s, d).select(
        (col("l_quantity") / 50.0).as("x1"),
        col("l_discount").as("x2"),
        col("l_tax").as("x3"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
      val p = f.withColumn("p",
        lit(1.0) / (lit(1.0) + exp(-(lit(0.8) * col("x1")
          + lit(-1.5) * col("x2") + lit(2.0) * col("x3") + lit(-0.3)))))
      def gq(x: org.apache.spark.sql.Column) =
        sum(round((col("p") - col("y")) * x * 1e6).cast("long"))
      val agg = p.agg(
        gq(col("x1")).as("g1"), gq(col("x2")).as("g2"),
        gq(col("x3")).as("g3"),
        sum(round((col("p") - col("y")) * 1e6).cast("long")).as("g4"),
        count(lit(1)).as("n"))
      agg.select(expr(
        """stack(4,
             'w_qty',  0.8D,  g1,
             'w_disc', -1.5D, g2,
             'w_tax',  2.0D,  g3,
             'w_bias', -0.3D, g4) as (feature, w_old, grad_micro)"""),
        col("n"))
        .select(col("feature"), col("w_old"), col("grad_micro"),
          round(col("w_old") - lit(0.1)
            * (col("grad_micro").cast("double") / 1e6 / col("n")), 6)
            .as("w_new"))
    },
    Some("""WITH f AS (
        SELECT l_quantity / 50.0 AS x1, l_discount AS x2, l_tax AS x3,
          CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        FROM lineitem),
      s AS (
        SELECT x1, x2, x3, y,
          1.0 / (1.0 + exp(-(0.8 * x1 + -1.5 * x2 + 2.0 * x3 + -0.3))) AS p
        FROM f),
      g AS (
        SELECT
          CAST(SUM(CAST(ROUND((p - y) * x1 * 1000000.0) AS BIGINT)) AS BIGINT) AS g1,
          CAST(SUM(CAST(ROUND((p - y) * x2 * 1000000.0) AS BIGINT)) AS BIGINT) AS g2,
          CAST(SUM(CAST(ROUND((p - y) * x3 * 1000000.0) AS BIGINT)) AS BIGINT) AS g3,
          CAST(SUM(CAST(ROUND((p - y) * 1000000.0) AS BIGINT)) AS BIGINT) AS g4,
          COUNT(*) AS n
        FROM s),
      w AS (
        SELECT 'w_qty' AS feature, 0.8 AS w_old, g1 AS grad_micro, n FROM g
        UNION ALL SELECT 'w_disc', -1.5, g2, n FROM g
        UNION ALL SELECT 'w_tax', 2.0, g3, n FROM g
        UNION ALL SELECT 'w_bias', -0.3, g4, n FROM g)
      SELECT feature, w_old, grad_micro,
        ROUND(w_old - 0.1 * (CAST(grad_micro AS DOUBLE) / 1000000.0 / n), 6)
          AS w_new
      FROM w"""))

  /** Distributed Gram matrix XᵀX over the embedding corpus — the
    * covariance/PCA front half as ONE combinable aggregate. Each row
    * contributes its d(d+1)/2 upper-triangle products as exact
    * fixed-point longs (native [[graft.functions.Kernels.gramUpperTriQ]]
    * kernel), elementwise-summed by the [[graft.functions.SumLongArray]]
    * aggregate: per-task state is a single 2080-long buffer, the
    * shuffle moves one buffer per task, and integer addition makes the
    * result bit-identical under any partitioning — versus the explode/
    * groupBy formulation, which shuffles d²/2 rows PER INPUT ROW. The
    * (i,j) labels come from a generator expression over range(d) (no
    * join against the corpus; the only join is the 2080-row flat-index
    * map against the ONE aggregated row). */
  private val x_embed_gram = Q(
    "x_embed_gram",
    (s, d) => {
      import graft.functions.GraftFunctions
      val dim = 64
      val emb = Tables.embeddings(s, d).filter(col("embedding").isNotNull)
      val gram = emb.agg(GraftFunctions.sumLongArray(
        GraftFunctions.gramUpperQ(col("embedding"))).as("gram"))
      // Guard: the flat buffer length must be exactly d(d+1)/2, so a
      // dim change on one side errors loudly instead of silently
      // dropping Gram cells through the inner join below.
      val flat = gram
        .select(col("gram"), expr(
          s"assert_true(size(gram) = ${dim * (dim + 1) / 2}, " +
            "'x_embed_gram: gram length != dim*(dim+1)/2')").as("__chk"))
        .select(posexplode(col("gram")).as(Seq("k", "gram_micro")))
      val pairs = s.range(dim.toLong).select(col("id").cast("int").as("i"))
        .select(col("i"),
          explode(sequence(col("i"), lit(dim - 1))).as("j"))
        .select(col("i"), col("j"),
          // integer DIV, not Column `/` (true division to double):
          // the join key k must be integral to match posexplode's pos.
          expr(s"i * $dim - (i * (i - 1)) DIV 2 + (j - i)").as("k"))
      flat.join(broadcast(pairs), "k")
        .select(col("i"), col("j"), col("gram_micro"),
          round(col("gram_micro").cast("double") / 1e6, 6).as("gram"))
    },
    Some("""WITH v AS (
        SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
      e AS (
        SELECT vec_id, i.i AS i, CAST(embedding[i.i] AS DOUBLE) AS val
        FROM v, (SELECT unnest(range(1, 65)) AS i) i),
      pair AS (
        SELECT CAST(a.i - 1 AS INTEGER) AS i, CAST(b.i - 1 AS INTEGER) AS j,
          CAST(FLOOR(a.val * b.val * 1000000.0) AS BIGINT) AS c
        FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i)
      SELECT i, j,
        CAST(SUM(c) AS BIGINT) AS gram_micro,
        ROUND(CAST(SUM(c) AS DOUBLE) / 1000000.0, 6) AS gram
      FROM pair
      GROUP BY i, j"""))

  /** Temporal split + entity-leakage audit ([[Quality.splitLeakage]]):
    * events before/after Jan 24 2024 as train/test, overlap measured
    * by user — the hygiene check that quantifies how much of the test
    * split's entities the model has already seen, instead of assuming
    * a row-level split is leak-free. One row out; everything
    * combinable. */
  private val x_split_temporal = Q(
    "x_split_temporal",
    (s, d) => {
      val ev = Tables.events(s, d).filter(col("ts").isNotNull)
      val cut = lit("2024-01-24 00:00:00").cast("timestamp")
      Quality.splitLeakage(
        ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut),
        col("user_id"))
    },
    Some(s"""WITH trsrc AS (
      SELECT user_id AS k FROM events
      WHERE ts IS NOT NULL AND ts < TIMESTAMP '2024-01-24 00:00:00'),
    tesrc AS (
      SELECT user_id AS k FROM events
      WHERE ts IS NOT NULL AND ts >= TIMESTAMP '2024-01-24 00:00:00'),
    ${Quality.splitLeakageSql("trsrc", "tesrc")}
    SELECT n_train_keys, n_test_keys, n_overlap_keys, n_test_rows,
      n_test_rows_leaked, overlap_micro, leaked_rows_micro
    FROM __leak_out"""))

  /** Population Stability Index ([[Quality.psiDrift]]) between the
    * pre-1996 and 1996+ order-value distributions — the
    * information-theoretic drift gauge (symmetrized KL over shared
    * bins) next to `x_dq_drift`'s raw deltas. Per-bin micro-quantized
    * terms, empty-on-either-side bins NULLed and flagged instead of
    * epsilon-fudged. */
  private val x_dq_psi = Q(
    "x_dq_psi",
    (s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderdate").isNotNull)
      Quality.psiDrift(
        o.filter(col("o_orderdate") < lit("1996-01-01").cast("date")),
        o.filter(col("o_orderdate") >= lit("1996-01-01").cast("date")),
        col("o_totalprice"), lo = 0.0, hi = 600000.0, nBins = 10)
    },
    Some(s"""WITH refsrc AS (
      SELECT o_totalprice AS x FROM orders
      WHERE o_orderdate IS NOT NULL AND o_orderdate < DATE '1996-01-01'),
    cursrc AS (
      SELECT o_totalprice AS x FROM orders
      WHERE o_orderdate IS NOT NULL AND o_orderdate >= DATE '1996-01-01'),
    ${Quality.psiDriftSql("refsrc", "cursrc",
        lo = 0.0, hi = 600000.0, nBins = 10)}
    SELECT bin, c_ref, c_cur, term_micro, psi_micro, n_degenerate_bins
    FROM __psi_out"""))

  /** Exact ROC-AUC ([[Features.binaryAuc]]) of the hashed-classifier
    * quality score against the is-English label — the threshold-free
    * metric a filter-model gate reports next to the per-class
    * precision/recall of `x_text_langid_eval`. Mann–Whitney with exact
    * tie handling, integer numerator, ONE final division; no global
    * ranking window — the cumulative pass runs over the distinct-score
    * frame. (The hash score carries no real signal, so the value lands
    * near 0.5 — the metric plumbing, tie correction included, is what
    * the oracle pins.) */
  private val x_ml_auc = Q(
    "x_ml_auc",
    (s, d) => Features.binaryAuc(
      Tables.documents(s, d)
        .filter(col("text").isNotNull && col("lang").isNotNull),
      TextOps.hashClfScore(col("text")), col("lang") === "en"),
    Some(s"""WITH ${TextFixtures.englishScoresSql("src")},
    ${Features.binaryAucSql("src")}
    SELECT n_pos, n_neg, tied_pairs, auc, gini FROM __auc_out"""))

  /** Reliability diagram + ECE ([[Features.calibrationBins]]) for the
    * hashed-classifier score against the is-English label — the
    * calibration half of the model gate (`x_ml_auc` is the ranking
    * half): per-confidence-bin empirical rate vs mean confidence, and
    * the weighted gap summary, all micro-exact. */
  private val x_ml_calibration = Q(
    "x_ml_calibration",
    (s, d) => Features.calibrationBins(
      Tables.documents(s, d)
        .filter(col("text").isNotNull && col("lang").isNotNull),
      TextOps.hashClfScore(col("text")), col("lang") === "en"),
    Some(s"""WITH ${TextFixtures.englishScoresSql("src")},
    ${Features.calibrationBinsSql("src")}
    SELECT bin, n, n_pos, emp_micro, conf_micro, gap_micro, ece_micro
    FROM __cal_out"""))

  /** Isotonic calibration (PAVA) of the same classifier — the FIX for
    * what x_ml_calibration only measures: the monotone-nondecreasing
    * recalibration map ŷ_k = max_{i≤k} min_{j≥k} rate(i..j), the
    * closed-form minimax characterization of the pool-adjacent-
    * violators solution (Robertson et al.; equivalent to iterative
    * pooling but order-free, so it distributes and replays).
    * Segment rates are truncating integer micro ratios of exact
    * pooled counts (Σpos·10⁶ DIV Σn — both engines), so the fit is
    * exact integer arithmetic end to end.
    *
    * Scale shape: the corpus collapses to the SAME one combinable
    * 10-bin count as the calibration query; the minimax runs on the
    * ≤55-segment × ≤10-k frame — bounded at any corpus size (the
    * closed form is O(B²)–O(B³) in BINS, the classic reason binned
    * isotonic is the distributed form). */
  private val x_ml_isotonic = Q(
    "x_ml_isotonic",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bins = Tables.documents(s, d)
        .filter(col("text").isNotNull && col("lang").isNotNull)
        .select(TextOps.hashClfScore(col("text")).as("s"),
          (col("lang") === "en").as("y"))
        .select(expr("CAST(ROUND((s + CAST('1.0' AS DOUBLE))" +
          " / CAST('2.0' AS DOUBLE) * 1000000) AS BIGINT)").as("p_micro"),
          col("y"))
        .groupBy(expr("LEAST(CAST(floor(p_micro * 10 / 1000000) AS BIGINT), 9)")
          .as("bin"))
        .agg(count(lit(1)).cast("long").as("n"),
          count(when(col("y"), 1)).cast("long").as("n_pos"))
      val w = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = bins
        .withColumn("cn", sum(col("n")).over(w))
        .withColumn("cp", sum(col("n_pos")).over(w))
        .localCheckpoint(true) // 3 consumers: i-side, j-side, k frame
      val iSide = cum.select(col("bin").as("i"),
        (col("cn") - col("n")).as("cni"), (col("cp") - col("n_pos")).as("cpi"))
      val jSide = cum.select(col("bin").as("j"),
        col("cn").as("cnj"), col("cp").as("cpj"))
      val segs = iSide.join(jSide, col("i") <= col("j"))
        .select(col("i"), col("j"),
          expr("(cpj - cpi) * 1000000 DIV (cnj - cni)").as("rate_micro"))
      val ks = cum.select(col("bin").as("k"))
      val fit = segs.join(broadcast(ks),
          col("i") <= col("k") && col("j") >= col("k"))
        .groupBy(col("k"), col("i"))
        .agg(min(col("rate_micro")).as("inner_min"))
        .groupBy(col("k"))
        .agg(max(col("inner_min")).as("iso_micro"))
      cum.select(col("bin"), col("n"), col("n_pos"),
          expr("n_pos * 1000000 DIV n").as("emp_micro"))
        .join(fit, col("bin") === col("k"))
        .select(col("bin"), col("n"), col("n_pos"), col("emp_micro"),
          col("iso_micro"))
    },
    Some(s"""WITH ${TextFixtures.englishScoresSql("src")},
    rows_p AS (
      SELECT CAST(ROUND((s + CAST('1.0' AS DOUBLE)) / CAST('2.0' AS DOUBLE)
          * 1000000) AS BIGINT) AS p_micro, y
      FROM src),
    bins AS (
      SELECT LEAST(CAST(floor(p_micro * 10 / 1000000) AS BIGINT), 9) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(CASE WHEN y THEN 1 END) AS BIGINT) AS n_pos
      FROM rows_p GROUP BY 1),
    cum AS (
      SELECT bin, n, n_pos,
        CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
        CAST(SUM(n_pos) OVER (ORDER BY bin) AS BIGINT) AS cp
      FROM bins),
    segs AS (
      SELECT a.bin AS i, b.bin AS j,
        (b.cp - (a.cp - a.n_pos)) * 1000000
          // (b.cn - (a.cn - a.n)) AS rate_micro
      FROM cum a JOIN cum b ON a.bin <= b.bin),
    fit AS (
      SELECT k, CAST(MAX(inner_min) AS BIGINT) AS iso_micro FROM (
        SELECT kf.bin AS k, s2.i, MIN(s2.rate_micro) AS inner_min
        FROM segs s2 JOIN cum kf ON s2.i <= kf.bin AND s2.j >= kf.bin
        GROUP BY 1, 2)
      GROUP BY 1)
    SELECT c.bin, c.n, c.n_pos,
      c.n_pos * 1000000 // c.n AS emp_micro,
      f.iso_micro
    FROM cum c JOIN fit f ON c.bin = f.k"""))

  /** Leave-one-out target encoding of the customer's nation against
    * order value ([[Features.targetEncodeLoo]]): each order's feature is
    * the mean o_totalprice of the OTHER orders from the same nation,
    * shrunk toward the global mean by a pseudo-count of 10 — the
    * label-leak-free categorical encoding feature pipelines feed to
    * gradient-boosted models. Oracle recomputes every row's encoding
    * from scratch; sums stay decimal-exact until the final double
    * division (rounded 6 dp on both engines). Scale shape: category
    * stats are a combinable groupBy (25 nations) broadcast back; no
    * per-category window. */
  private val x_feat_target_encode = Q(
    "x_feat_target_encode",
    (s, d) => {
      val base = Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey").as("nation"),
          col("o_totalprice"))
      Features.targetEncodeLoo(base, "nation", "o_totalprice",
          priorWeight = 10.0)
        .select(col("o_orderkey"), col("nation"), col("enc"))
    },
    Some("""WITH base AS (
      SELECT o_orderkey, c_nationkey AS nation, o_totalprice AS t
      FROM orders JOIN customer ON o_custkey = c_custkey),
    stx AS (
      SELECT nation, SUM(t) AS s, COUNT(*) AS n FROM base GROUP BY nation),
    g AS (SELECT CAST(SUM(t) AS DOUBLE) / COUNT(*) AS g FROM base)
    SELECT b.o_orderkey, b.nation,
      ROUND((CAST(st.s AS DOUBLE) - CAST(b.t AS DOUBLE) + 10.0 * g.g)
        / (st.n - 1 + 10.0), 6) AS enc
    FROM base b JOIN stx st USING (nation) CROSS JOIN g"""))

  /** Equi-depth binning of order value into 8 quantile buckets per
    * priority class ([[Features.quantileBin]]) — feature
    * discretization. The oracle recomputes every group's interpolated
    * percentile boundaries (quantile_cont = Spark's exact percentile
    * definition) and every row's boundary count. */
  private val x_feat_quantile_bin = Q(
    "x_feat_quantile_bin",
    (s, d) => Features.quantileBin(
        Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority").as("prio"), col("o_totalprice")),
        group = "prio", value = col("o_totalprice").cast("double"),
        nBins = 8)
      .select(col("o_orderkey"), col("prio"), col("bin")),
    Some("""WITH b AS (
      SELECT o_orderpriority AS prio,
        quantile_cont(CAST(o_totalprice AS DOUBLE),
          [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bounds
      FROM orders GROUP BY 1)
    SELECT o.o_orderkey, o.o_orderpriority AS prio,
      CAST(len(list_filter(b.bounds,
        x -> CAST(o.o_totalprice AS DOUBLE) > x)) AS INTEGER) AS bin
    FROM orders o JOIN b ON o.o_orderpriority = b.prio"""))

  /** One rank-2 ALS user-factor half-step ([[Features.alsUserStep]])
    * over the customer×part implicit-rating matrix (rating = total
    * quantity ordered) — the collaborative-filtering sweep a
    * recommender trainer alternates. Item factors are hash-derived and
    * fixed (the previous-sweep stand-in), so the per-user 2×2 normal
    * equations are EXACT integer sums and the Cramer division is the
    * only float op — the oracle replays factors, Gram sums, and both
    * divisions bit-for-bit. One combinable groupBy(user); no join for
    * the factors (computed in-row from the item id). */
  private val x_ml_als_step = Q(
    "x_ml_als_step",
    (s, d) => {
      val ratings = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("u"), col("l_partkey").as("it"))
        .agg(sum(col("l_quantity").cast("long")).as("r"))
      Features.alsUserStep(ratings, "u", "it", col("r"))
    },
    Some(s"""WITH src AS (
      SELECT o_custkey AS u, l_partkey AS it,
        SUM(CAST(l_quantity AS BIGINT)) AS r
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    ${Features.alsUserStepSql("src")}
    SELECT u, n_items, p1, p2 FROM __als_out"""))

  /** CDC merge-apply ([[Snapshot.cdcApply]]) — lakehouse MERGE INTO /
    * Debezium-sink semantics on a deterministic change log: updates
    * (every 5th key, seq 2), deletes (every 11th, seq 3 — so keys
    * divisible by 55 carry BOTH and the later delete must win),
    * inserts (every 13th, shifted key space, seq 1). Latest-per-key is
    * a WindowGroupLimit; untouched rows pass through one left-anti
    * join. The oracle rebuilds the same log and replays the
    * latest-change case analysis. */
  /** The deterministic CDC fixture shared by the batch apply and its
    * streaming parity twin: base snapshot plus the three change
    * classes, each returned SEPARATELY so the streaming query can land
    * them as distinct files/micro-batches. */
  private def cdcFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    val upd = base.filter(col("k") % 5 === 0)
      .select(col("k"), col("name"), (col("bal") + 1000.0d).as("bal"),
        lit(2L).as("seq"), lit("U").as("op"))
    val del = base.filter(col("k") % 11 === 0)
      .select(col("k"), col("name"), col("bal"),
        lit(3L).as("seq"), lit("D").as("op"))
    val ins = base.filter(col("k") % 13 === 0)
      .select((col("k") + 1000000L).as("k"),
        concat(lit("new "), col("name")).as("name"),
        lit(0.0d).as("bal"), lit(1L).as("seq"), lit("I").as("op"))
    (base, upd, del, ins)
  }

  /** Oracle for BOTH the batch CDC apply and its streaming parity twin
    * — the contract is the same final table. */
  private val cdcOracleSql: String = """WITH base AS (
      SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer),
    changes AS (
      SELECT k, name, bal + CAST(1000 AS DOUBLE) AS bal, 2 AS seq, 'U' AS op
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT k, name, bal, 3, 'D' FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT k + 1000000, 'new ' || name, CAST(0 AS DOUBLE), 1, 'I'
      FROM base WHERE k % 13 = 0),
    latest AS (
      SELECT * FROM changes
      QUALIFY ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC, op ASC) = 1)
    SELECT b.k, b.name, b.bal FROM base b ANTI JOIN latest l ON b.k = l.k
    UNION ALL
    SELECT k, name, bal FROM latest WHERE op IN ('I', 'U')"""

  private val x_elt_cdc_apply = Q(
    "x_elt_cdc_apply",
    (s, d) => {
      val (base, upd, del, ins) = cdcFixture(s, d)
      val changes = upd.unionByName(del).unionByName(ins)
      Snapshot.cdcApply(base, changes, Seq("k"), "seq", "op")
    },
    Some(cdcOracleSql))

  /** STREAMING parity of the CDC apply ([[EventStream.cdcLatest]]):
    * the same change log, landed as THREE separate parquet files and
    * re-read one file per micro-batch — so a key carrying both an
    * update and a later delete (every k % 55 = 0) has its changes
    * arrive in DIFFERENT batches, and only the streaming state store
    * can pick the right winner; the order files arrive in is
    * irrelevant because the winner fold is a commutative max. The
    * final winner table then applies to the base snapshot exactly as
    * the batch path does, and the ORACLE IS SHARED with
    * `x_elt_cdc_apply` — streaming and batch must land the identical
    * final table. */
  private val x_stream_cdc_parity = Q(
    "x_stream_cdc_parity",
    (s, d) => {
      val (base, upd, del, ins) = cdcFixture(s, d)
      val tmp = Landing.dir(s, d, "graft_stream_cdc") { t =>
        upd.coalesce(1).write.mode("overwrite").parquet(t)
        del.coalesce(1).write.mode("append").parquet(t)
        ins.coalesce(1).write.mode("append").parquet(t)
      }
      val src = s.readStream
        .schema("k BIGINT, name STRING, bal DOUBLE, seq BIGINT, op STRING")
        .option("maxFilesPerTrigger", "1") // force the cross-batch path
        .parquet(tmp)
      val latest = EventStream.drain(s, "x_stream_cdc_parity", "complete")(
        EventStream.cdcLatest(src, Seq("k"), "seq", "op")).localCheckpoint(true)
      val survivors = base.join(latest.select(col("k")), Seq("k"), "left_anti")
      survivors.unionByName(latest.filter(col("op").isin("I", "U"))
        .select(base.columns.map(col).toSeq: _*))
    },
    Some(cdcOracleSql))

  /** POINT-IN-TIME lookup against the SCD2 ledger — the temporal join
    * the Type-2 layout exists to serve: each 1996–1998 order joins the
    * customer-priority VERSION valid at its order date
    * (valid_from ≤ d < valid_to, open current = ∞), revenue then rolls
    * up by the as-of attribute. Exercises every ledger branch:
    * unchanged rows span all dates, changed customers flip attribution
    * at the merge boundary, soft-deleted customers' later orders find
    * NO valid version, pre-history customers none at all. The join is
    * an equi-join on the entity key with a residual interval filter —
    * versions per key are bounded, so the fan-out is too. The oracle
    * derives the same as-of attribute from the raw snapshots by case
    * analysis, independent of the merge implementation. */
  private val x_scd2_pit = Q(
    "x_scd2_pit_lookup",
    (s, d) => {
      def snap(y: Int): DataFrame = Qualify.rowNumber(
        Tables.orders(s, d)
          .filter(year(col("o_orderdate")) === y)
          .select(col("o_custkey").as("custkey"),
            col("o_orderpriority").as("priority"),
            col("o_orderdate"), col("o_orderkey")),
        partCols = Seq(col("custkey")),
        orderCols = Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select("custkey", "priority")
      val ledger = Snapshot.scd2Merge(
        Snapshot.scd2Init(snap(1996), lit("1996-01-01").cast("date")),
        snap(1997),
        keyCols = Seq("custkey"), attrCols = Seq("priority"),
        asOf = lit("1997-01-01").cast("date"))
      val facts = Tables.orders(s, d)
        .filter(year(col("o_orderdate")).between(1996, 1998))
        .select(col("o_custkey"), col("o_orderdate").cast("date").as("od"),
          col("o_totalprice"))
      facts.join(ledger,
          facts("o_custkey") === ledger("custkey") &&
            col("od") >= col("valid_from") &&
            (col("valid_to").isNull || col("od") < col("valid_to")),
          "left")
        .groupBy(coalesce(col("priority"), lit("(none)")).as("pit_priority"))
        .agg(count(lit(1)).as("n_orders"),
          Exact.sumMoney(col("o_totalprice")).as("revenue"))
    },
    Some(s"""WITH snap_a AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority
      FROM orders WHERE year(o_orderdate) = 1996
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
    snap_b AS (
      SELECT o_custkey AS custkey, o_orderpriority AS priority
      FROM orders WHERE year(o_orderdate) = 1997
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
    pit AS (
      SELECT o.o_totalprice,
        CASE
          WHEN a.custkey IS NOT NULL AND b.custkey IS NOT NULL
               AND a.priority = b.priority THEN a.priority
          WHEN CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
               AND b.custkey IS NOT NULL THEN b.priority
          WHEN CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
               AND a.custkey IS NOT NULL THEN a.priority
        END AS pit_priority
      FROM orders o
      LEFT JOIN snap_a a ON o.o_custkey = a.custkey
      LEFT JOIN snap_b b ON o.o_custkey = b.custkey
      WHERE year(o.o_orderdate) BETWEEN 1996 AND 1998)
    SELECT COALESCE(pit_priority, '(none)') AS pit_priority,
      COUNT(*) AS n_orders,
      ${Exact.sumMoneySql("o_totalprice")} AS revenue
    FROM pit GROUP BY 1"""))

  def all: Seq[Q] = Seq(
    x_scd2_merge,
    x_scd2_pit,
    x_dq_audit,
    x_dq_profile,
    x_dq_histogram,
    x_dq_winsorize,
    x_feat_target_encode,
    x_feat_quantile_bin,
    x_ml_als_step,
    x_elt_cdc_apply,
    x_stream_cdc_parity,
    x_dq_mad,
    x_feat_hashing,
    x_ml_auc,
    x_dq_psi,
    x_ml_calibration,
    x_ml_isotonic,
    x_dq_dp,
    x_split_temporal,
    x_ml_split,
    x_ml_gbdt,
    x_ml_logreg,
    x_embed_gram,
  )
}
