package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Exact, Landing, Tables}

/** Physical-layout and join-semantics completions: Z-order clustering
  * keys (the data-skipping layout a 100 TB lakehouse sorts by), the
  * null-safe equi-join with an unknown-member dimension row (the
  * Kimball pattern for facts whose FK is missing), and bag-semantics
  * set operations. All oracle-checked.
  */
object LayoutQueries {

  /** Z-order (Morton) clustering key over (customer, order-day) — the
    * multi-dimensional sort key that makes min/max file statistics
    * selective on BOTH dimensions at once (sort by one dim and the
    * other's per-file ranges span everything; interleave their bits
    * and every fixed-length key prefix is a quadtree cell, bounded in
    * both). Emitted per 16-bit-suffix cell (256×256 quadtree cells, ≤256-wide per dim): row
    * count + both dims' min/max — the oracle checks the interleave AND
    * the bounded-range property this layout exists to provide. The
    * interleave is a single GENERATED 32-term integer expression (all
    * shifts are literals, so it stays inside whole-stage codegen —
    * zero joins, zero row expansion, one aggregate shuffle for the
    * cell stats; the dialect-shared term list is built once and
    * emitted to both engines, Spark `div` / DuckDB `//`). */
  private val x_scale_zorder = Q(
    "x_scale_zorder",
    (s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_orderkey"),
        pmod(col("o_custkey"), lit(65536)).as("x"),
        datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01")))
          .cast("long").as("y"))
      o.withColumn("zkey", expr(zorderExprSql("div")))
        .groupBy(expr("zkey div 65536").as("cell"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_cust"), max(col("x")).as("max_cust"),
          min(col("y")).as("min_day"), max(col("y")).as("max_day"))
    },
    Some(s"""WITH o AS (
      SELECT o_orderkey,
        o_custkey % 65536 AS x,
        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
          AS BIGINT) AS y
      FROM orders),
    keyed AS (SELECT x, y, ${zorderExprSql("//")} AS zkey FROM o)
    SELECT zkey // 65536 AS cell,
      COUNT(*) AS n_rows,
      MIN(x) AS min_cust, MAX(x) AS max_cust,
      MIN(y) AS min_day, MAX(y) AS max_day
    FROM keyed GROUP BY 1"""))

  /** 16-bit × 2 Morton interleave as a flat integer-arithmetic term
    * list; `intDiv` is the dialect's integral-division operator
    * (Spark `div`, DuckDB `//`). Every constant is a literal power of
    * two, so both engines evaluate in exact 64-bit integers. */
  private def zorderExprSql(intDiv: String): String =
    (0 until 16).map { i =>
      s"((x $intDiv ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((y $intDiv ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) with an
    * UNKNOWN-member dimension row — the Kimball answer to facts whose
    * FK is missing: the dimension carries one NULL-keyed row, and the
    * null-safe join routes NULL-FK facts to it instead of dropping
    * them. Both cohorts are emitted side by side: the standard `=`
    * join loses the NULL-key customers (SQL equality is never true on
    * NULL), the null-safe join books them under UNKNOWN — same row
    * counts in total only for the null-safe arm. NULL FKs are
    * synthesized deterministically (custkey % 23 = 0) since the
    * fixture has none; both engines apply the identical rule. */
  private val x_rel_nullsafe = Q(
    "x_rel_nullsafe_join",
    (s, d) => {
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        when(col("c_custkey") % 23 === 0, lit(null).cast("long"))
          .otherwise(col("c_nationkey")).as("nkey"))
      val dim = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("nkey"), col("n_name"))
        .unionByName(s.range(1).select(
          lit(null).cast("long").as("nkey"), lit("UNKNOWN").as("n_name")))
      val std = cust.join(dim, cust("nkey") === dim("nkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
        .withColumn("join_mode", lit("EQ"))
      val safe = cust.join(dim, cust("nkey") <=> dim("nkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
        .withColumn("join_mode", lit("NULL_SAFE"))
      std.unionByName(safe)
    },
    Some("""WITH cust AS (
      SELECT c_custkey,
        CASE WHEN c_custkey % 23 = 0 THEN NULL ELSE c_nationkey END AS nkey
      FROM customer),
    dim AS (
      SELECT CAST(n_nationkey AS BIGINT) AS nkey, n_name FROM nation
      UNION ALL SELECT NULL, 'UNKNOWN')
    SELECT n_name, COUNT(*) AS n_customers, 'EQ' AS join_mode
    FROM cust JOIN dim ON cust.nkey = dim.nkey
    GROUP BY 1
    UNION ALL
    SELECT n_name, COUNT(*) AS n_customers, 'NULL_SAFE' AS join_mode
    FROM cust JOIN dim ON cust.nkey IS NOT DISTINCT FROM dim.nkey
    GROUP BY 1"""))

  /** Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL) — the
    * multiplicity-aware cohort algebra DISTINCT set ops lose: a
    * customer with 3 orders in 1996 and 1 in 1997 contributes 2 rows
    * to the EXCEPT ALL cohort (net order loss), 1 to INTERSECT ALL
    * (retained multiplicity). Spark plans both as aggregate+generate
    * (count per key, replicate the difference/minimum) — one shuffle
    * each, no row-by-row matching. */
  private val x_rel_bagops = Q(
    "x_rel_bagops",
    (s, d) => {
      def yr(y: Int) = Tables.orders(s, d)
        .filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
      yr(1996).exceptAll(yr(1997)).withColumn("cohort", lit("LOST_VOLUME"))
        .unionByName(
          yr(1996).intersectAll(yr(1997)).withColumn("cohort", lit("KEPT_VOLUME")))
    },
    Some("""WITH y96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
         y97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
    SELECT o_custkey, 'LOST_VOLUME' AS cohort
    FROM (SELECT * FROM y96 EXCEPT ALL SELECT * FROM y97)
    UNION ALL
    SELECT o_custkey, 'KEPT_VOLUME' AS cohort
    FROM (SELECT * FROM y96 INTERSECT ALL SELECT * FROM y97)"""))

  /** Bucketed-table landing goes through [[Landing.dir]]: the write
    * is the ONE-TIME layout cost the pattern amortizes, so only the
    * first call per (session, dataset) pays it and repeat executions
    * (bench passes, repeated analyses — exactly the production shape)
    * measure the exchange-free join itself. The table names derive from
    * the landing directory's unique name, so concurrent sessions in one
    * JVM — which SHARE the catalog namespace via SharedState — cannot
    * race each other's overwrites, and one session analyzing two
    * datasets gets two independent landings. Returns the orders and
    * lineitem table names. */
  private def landBucketed(s: org.apache.spark.sql.SparkSession,
                           d: String): (String, String) = {
    def names(wh: String): (String, String) = {
      val tok = new java.io.File(wh).getName
      (s"graft_b_orders_$tok", s"graft_b_lineitem_$tok")
    }
    names(Landing.dir(s, d, "graft_bucketed") { wh =>
      val (ordersTbl, lineitemTbl) = names(wh)
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").option("path", s"$wh/b_orders")
        .saveAsTable(ordersTbl)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").option("path", s"$wh/b_lineitem")
        .saveAsTable(lineitemTbl)
    })
  }

  /** Bucketed co-located join — the shuffle-elimination layout for the
    * joins a 100 TB warehouse runs every day: both fact tables are
    * written `bucketBy(8, <join key>)` + `sortBy` into the session
    * catalog, and the orders ⋈ lineitem sort-merge join then reads
    * bucket i against bucket i directly — NO Exchange on either side
    * (PlanAuditSpec pins this: the only shuffle left in the plan is
    * the final per-status aggregate). `hint("merge")` keeps the demo
    * on the SMJ path (at real scale neither side broadcasts anyway).
    * The write cost is paid ONCE at landing time; every subsequent
    * join on the bucket key rides for free — that trade is the whole
    * point of bucketing. Oracle = the plain join, proving layout
    * changes nothing semantically. */
  private val x_scale_bucketed = Q(
    "x_scale_bucketed_join",
    (s, d) => {
      val (ordersTbl, lineitemTbl) = landBucketed(s, d)
      s.table(lineitemTbl).hint("merge")
        .join(s.table(ordersTbl).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_lineitems"),
          Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
            .as("revenue"))
    },
    Some(s"""SELECT o_orderstatus AS status, COUNT(*) AS n_lineitems,
      ${Exact.sumRevenueSql("l_extendedprice", "l_discount")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1"""))

  /** Contiguous global row numbering over orders WITHOUT the
    * single-reducer sort ([[graft.ops.Scale.globalRowNumber]]): range
    * shuffle → per-partition numbering → tiny prefix-sum of partition
    * counts broadcast back. The oracle is the naive
    * `ROW_NUMBER() OVER (ORDER BY ...)` — identical output, different
    * physical plan; ScaleSpec audits that no window in the executed
    * plan has an empty partition spec (the global funnel this operator
    * exists to avoid). */
  private val x_scale_global_rownum = Q(
    "x_scale_global_rownum",
    (s, d) => graft.ops.Scale.globalRowNumber(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice")),
        key = "o_orderkey")
      .select(col("o_orderkey"), col("o_totalprice"), col("global_rn")),
    Some("""SELECT o_orderkey, o_totalprice,
      CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS BIGINT) AS global_rn
    FROM orders"""))

  /** Lands events hive-partitioned by day (first call per
    * session+dataset only) and returns the directory. */
  private def landHivePartitioned(s: org.apache.spark.sql.SparkSession,
                                  d: String): String =
    Landing.dir(s, d, "graft_hive_events") { dir =>
      Tables.events(s, d).filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .write.partitionBy("day").mode("overwrite").parquet(dir)
    }

  /** Hive-style partition pruning — the layout story every lake table
    * tells: events landed `partitionBy(day)` (one directory per day),
    * then probed with a LITERAL 7-day predicate on the partition
    * column, so the scan's PartitionFilters eliminate ~3/4 of the
    * directories before a single row is read (LayoutSpec pins the
    * non-empty PartitionFilters and the pruned InMemoryFileIndex
    * size). The probe window derives from the corpus' min day via one
    * 1-row driver action at plan time (the geo-cell precedent), so
    * the oracle replays it from the raw table. Value sum in exact
    * cents. */
  private val x_source_hive_pruning = Q(
    "x_source_hive_pruning",
    (s, d) => {
      val dir = landHivePartitioned(s, d)
      val minDay = Tables.events(s, d).filter(col("ts").isNotNull)
        .agg(min(to_date(col("ts")))).first().getDate(0)
      val lo = java.sql.Date.valueOf(minDay.toLocalDate.plusDays(10))
      val hi = java.sql.Date.valueOf(minDay.toLocalDate.plusDays(16))
      val probed = s.read.parquet(dir)
        .filter(col("day") >= lit(lo) && col("day") <= lit(hi))
      probed.agg(
        countDistinct(col("day")).as("n_days_probe"),
        count(lit(1)).as("n_rows"),
        sum(expr("CAST(ROUND(value * 100, 0) AS BIGINT)"))
          .as("value_cents"))
        .select(lit(lo).as("probe_lo"), lit(hi).as("probe_hi"),
          col("n_days_probe"), col("n_rows"),
          coalesce(col("value_cents"), lit(0L)).as("value_cents"))
    },
    Some("""WITH mn AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events WHERE ts IS NOT NULL),
      probe AS (
        SELECT CAST(ts AS DATE) AS day, value
        FROM events CROSS JOIN mn
        WHERE ts IS NOT NULL
          AND CAST(ts AS DATE) >= d0 + 10 AND CAST(ts AS DATE) <= d0 + 16)
      SELECT (SELECT d0 + 10 FROM mn) AS probe_lo,
        (SELECT d0 + 16 FROM mn) AS probe_hi,
        CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days_probe,
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COALESCE(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)), 0)
          AS BIGINT) AS value_cents
      FROM probe"""))

  /** The pruned scan's DataFrame, exposed for LayoutSpec's plan audit
    * (PartitionFilters non-empty, file index smaller than the full
    * landing). */
  private[graft] def hivePrunedScan(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dir = landHivePartitioned(s, d)
    val minDay = Tables.events(s, d).filter(col("ts").isNotNull)
      .agg(min(to_date(col("ts")))).first().getDate(0)
    val lo = java.sql.Date.valueOf(minDay.toLocalDate.plusDays(10))
    val hi = java.sql.Date.valueOf(minDay.toLocalDate.plusDays(16))
    val full = s.read.parquet(dir)
    (full, full.filter(col("day") >= lit(lo) && col("day") <= lit(hi)))
  }

  def all: Seq[Q] = Seq(
    x_scale_zorder,
    x_rel_nullsafe,
    x_rel_bagops,
    x_scale_bucketed,
    x_scale_global_rownum,
    x_source_hive_pruning,
  )
}
